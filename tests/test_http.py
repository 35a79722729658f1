"""HTTP endpoint parity (A19–A22) via the Flask test client."""

import pytest


@pytest.fixture()
def client(engine):
    from easydb_server_spark.http_app import create_app

    app = create_app(engine)
    app.config["TESTING"] = True
    return app.test_client()


class TestEndpoints:
    def test_health(self, client):
        r = client.get("/health")
        assert r.status_code == 200
        assert r.get_json() == {"resp_msg": "successful", "resp_code": 0}

    def test_fetch_dml(self, client, data_dir):
        r = client.post("/fetch", json={"sql": f"select * from '{data_dir}/user.csv'"})
        body = r.get_json()
        assert r.status_code == 200
        assert body["resp_code"] == 0
        assert body["data"]["header"] == ["id", "user_name", "email"]
        assert body["data"]["sql_type"] == "DML"
        assert "query_time" in body["data"]

    def test_fetch_ddl(self, client, data_dir):
        r = client.post("/fetch", json={"sql": "create table user () location 'user.csv'"})
        assert r.get_json()["data"]["rows"] == [["successful"]]

    def test_fetch_unsupported_sql_422(self, client):
        r = client.post("/fetch", json={"sql": "DROP TABLE x"})
        assert r.status_code == 422
        assert r.get_json()["resp_code"] == 1

    def test_fetch_missing_sql_400(self, client):
        assert client.post("/fetch", json={}).status_code == 400

    def test_fetch_missing_file_404(self, client, data_dir):
        r = client.post("/fetch", json={"sql": "select * from 'ghost.csv'"})
        assert r.status_code == 404

    def test_catalog_listing(self, client, data_dir):
        client.post("/fetch", json={"sql": "create table user () location 'user.csv'"})
        r = client.get("/catalog")
        data = r.get_json()["data"]
        assert [t["table_ref"] for t in data] == ["user"]

    def test_history(self, client, data_dir):
        client.post("/fetch", json={"sql": f"select * from '{data_dir}/user.csv'"})
        r = client.get("/query/history")
        data = r.get_json()["data"]
        assert data[0]["status"] == "successful"

    def test_bad_column_is_400_not_500(self, client, data_dir):
        client.post("/fetch", json={"sql": "create table user () location 'user.csv'"})
        r = client.post("/fetch", json={"sql": "select no_such_column from user"})
        assert r.status_code == 400
        assert r.get_json()["resp_code"] == 1

    def test_export_download(self, client, data_dir):
        client.post("/fetch", json={"sql": "create table user () location 'user.csv'"})
        r = client.post("/query/export", json={"sql": "select id from user", "file_type": "csv"})
        assert r.status_code == 200
        assert r.mimetype == "application/octet-stream"
        assert b"id" in r.data

    def test_export_distributed_returns_part_dir(self, client, data_dir):
        """distributed=true → executor-written part-file directory
        (cluster sink) instead of a single-file download stream."""
        import glob
        import os

        client.post("/fetch", json={"sql": "create table user () location 'user.csv'"})
        r = client.post(
            "/query/export",
            json={"sql": "select id from user", "file_type": "csv", "distributed": True},
        )
        assert r.status_code == 200
        body = r.get_json()
        assert body["resp_code"] == 0
        out = body["data"]["path"]
        assert os.path.isdir(out)
        assert glob.glob(f"{out}/part-*.csv")
        # same request as a query param works too
        r2 = client.post(
            "/query/export?distributed=true",
            json={"sql": "select id from user", "file_type": "csv"},
        )
        assert os.path.isdir(r2.get_json()["data"]["path"])

    def test_adhoc_requests_leave_no_temp_views(self, client, data_dir, spark):
        """Ad-hoc path views are dropped once each request is analyzed,
        also when the second quoted path of a request does not exist."""

        def temp_views():
            return sum(1 for t in spark.catalog.listTables() if t.isTemporary)

        before = temp_views()
        for i in range(19):
            r = client.post("/fetch", json={"sql": f"select * from '{data_dir}/user.csv' where id > {i}"})
            assert r.status_code == 200
        r = client.post(
            "/fetch",
            json={"sql": f"select * from '{data_dir}/user.csv' u join 'ghost.csv' g on u.id = g.id"},
        )
        assert r.status_code == 404
        for fmt in ("csv", "tsv"):
            r = client.post(
                "/query/export",
                json={"sql": f"select id from '{data_dir}/order_*.csv'", "file_type": fmt},
            )
            assert r.status_code == 200
            assert r.data.splitlines()[0] == b"id"
            assert len(r.data.splitlines()) == 5
        assert temp_views() == before


class TestIngestEndpoint:
    def test_ingest_lands_bucketed_table_queryable_via_fetch(self, client, engine):
        from tests.conftest import SF_DIR

        try:
            r = client.post(
                "/ingest",
                json={
                    "table": "http_ing_orders",
                    "location": f"{SF_DIR}/orders.parquet",
                    "bucket_by": "o_orderkey",
                    "n_buckets": 4,
                },
            )
            body = r.get_json()
            assert r.status_code == 200 and body["resp_code"] == 0
            assert body["data"]["bucketed_by"] == "o_orderkey"
            q = client.post(
                "/fetch", json={"sql": "SELECT COUNT(*) AS n FROM http_ing_orders"}
            )
            qb = q.get_json()
            assert q.status_code == 200 and qb["data"]["rows"][0][0] != "0"
            # listed in the catalog
            listed = {t["table_ref"] for t in client.get("/catalog").get_json()["data"]}
            assert "http_ing_orders" in listed
        finally:
            engine.spark.sql("DROP TABLE IF EXISTS http_ing_orders")

    def test_ingest_missing_fields_is_400(self, client):
        r = client.post("/ingest", json={"table": "x"})
        assert r.status_code == 400
        assert "location" in r.get_json()["resp_msg"]
