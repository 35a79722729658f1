"""IVF vector-store lifecycle (r8 verdict ask #3): incremental append
against frozen centroids, crash-safe compaction, the skew-based
retrain trigger, and — the lock that matters at scale — partition
pruning surviving N append/compact cycles with serving results
identical to a fresh build under the same centroids."""

import contextlib
import io
import uuid
from pathlib import Path

import pyspark.sql.functions as F
import pytest

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture()
def store(spark):
    table = f"ivf_life_{uuid.uuid4().hex[:8]}"
    yield table
    for t in (table, f"{table}_centroids", f"{table}__staged", f"{table}_centroids__staged"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _cell_file_counts(spark, table):
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse").removeprefix("file:")
    return {
        d.name: len(list(d.glob("*.parquet")))
        for d in Path(f"{wh}/{table}").glob("cell=*")
    }


class TestIvfLifecycle:
    def test_append_compact_cycles_keep_pruning_and_results(self, spark, embeddings, store):
        from easydb_server_spark.operators.similarity import (
            _as_double,
            _assign_cells,
            append_to_ivf_store,
            compact_ivf_store,
            topk_cosine_ivf_store,
            write_ivf_store,
        )

        base = embeddings.where(F.col("vec_id") % 3 == 0)
        write_ivf_store(base, "embedding", "vec_id", store, n_cells=8)
        # two append cycles with a compact between them
        append_to_ivf_store(
            spark, embeddings.where(F.col("vec_id") % 3 == 1), "embedding", "vec_id", store
        )
        compact_ivf_store(spark, store)
        append_to_ivf_store(
            spark, embeddings.where(F.col("vec_id") % 3 == 2), "embedding", "vec_id", store
        )
        compact_ivf_store(spark, store)

        q = embeddings.where(F.col("vec_id") < 5)
        got = topk_cosine_ivf_store(spark, store, q, "embedding", "vec_id", k=3, nprobe=2)

        # serving is identical to a FRESH store built from the full
        # corpus under the SAME centroids (the append path's frozen
        # geometry): reference = manual assignment + the shared ranker
        cents = spark.table(f"{store}_centroids")
        c = embeddings.select(
            F.col("vec_id").alias("cid"), _as_double(F.col("embedding")).alias("cvec")
        )
        ref_assigned = _assign_cells(c, cents)
        from easydb_server_spark.operators.similarity import _rank_probed

        probed = _assign_cells(
            q.select(F.col("vec_id").alias("qid"), _as_double(F.col("embedding")).alias("qvec")),
            cents,
            id_col="qid",
            vec_col="qvec",
            top=2,
        )
        want = _rank_probed(ref_assigned, probed, 3)
        assert sorted(map(tuple, got.select("qid", "cid", "cosine", "rank").collect())) == sorted(
            map(tuple, want.select("qid", "cid", "cosine", "rank").collect())
        )

        # partition pruning survives the cycles
        p = _explain(got)
        assert "PartitionFilters" in p
        assert "cell" in p.split("PartitionFilters", 1)[1].split("]", 1)[0]

        # compaction reset every cell to one file
        counts = _cell_file_counts(spark, store)
        assert counts and all(n == 1 for n in counts.values())

    def test_append_grows_files_compact_resets(self, spark, embeddings, store):
        from easydb_server_spark.operators.similarity import (
            append_to_ivf_store,
            compact_ivf_store,
            write_ivf_store,
        )

        write_ivf_store(embeddings.limit(60), "embedding", "vec_id", store, n_cells=4)
        for lo in (60, 80):
            batch = embeddings.where((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 20))
            append_to_ivf_store(spark, batch, "embedding", "vec_id", store)
        assert max(_cell_file_counts(spark, store).values()) > 1
        n = compact_ivf_store(spark, store)
        assert n == 100
        assert all(v == 1 for v in _cell_file_counts(spark, store).values())

    def test_reingested_id_newest_seq_wins_at_compaction(self, spark, store):
        from easydb_server_spark.operators.similarity import (
            append_to_ivf_store,
            compact_ivf_store,
            write_ivf_store,
        )

        base = spark.createDataFrame(
            [(i, [float(i), 0.0]) for i in range(20)], "vec_id long, v array<double>"
        )
        write_ivf_store(base, "v", "vec_id", store, n_cells=4)
        # re-ingest id 3 with a changed vector
        upd = spark.createDataFrame([(3, [99.0, 1.0])], "vec_id long, v array<double>")
        append_to_ivf_store(spark, upd, "v", "vec_id", store)
        assert spark.table(store).where(F.col("cid") == 3).count() == 2
        compact_ivf_store(spark, store)
        rows = spark.table(store).where(F.col("cid") == 3).collect()
        assert len(rows) == 1 and rows[0].cvec == [99.0, 1.0]

    def test_skew_stats_and_retrain_trigger(self, spark, store):
        from easydb_server_spark.operators.similarity import (
            append_to_ivf_store,
            ivf_store_stats,
            rebuild_ivf_store,
            write_ivf_store,
        )

        import math

        spread = spark.createDataFrame(
            [
                (i, [math.cos(i * math.pi / 20), math.sin(i * math.pi / 20)])
                for i in range(40)
            ],
            "vec_id long, v array<double>",
        )
        write_ivf_store(spread, "v", "vec_id", store, n_cells=4)
        # drift: a dense arc of new directions the old 4-direction
        # geometry funnels into one cell (assignment is by dot
        # product, so a narrow arc = one argmax centroid), but which a
        # retrain CAN split because the arc's vectors differ in
        # direction and most re-sampled seeds land inside it
        pile = spark.createDataFrame(
            [
                (
                    100 + i,
                    [
                        1000.0 * math.cos(i * math.pi / (8 * 120)),
                        1000.0 * math.sin(i * math.pi / (8 * 120)),
                    ],
                )
                for i in range(120)
            ],
            "vec_id long, v array<double>",
        )
        append_to_ivf_store(spark, pile, "v", "vec_id", store)
        stats = ivf_store_stats(spark, store, skew_threshold=2.0)
        assert stats["n_rows"] == 160
        assert stats["needs_retrain"] is True
        rebuild_ivf_store(spark, store, n_cells=8)
        after = ivf_store_stats(spark, store, skew_threshold=2.0)
        assert after["n_rows"] == 160
        # stats count POPULATED cells; retraining at 8 cells splits the
        # pile so more cells carry data and the hot-cell ratio drops
        assert after["n_cells"] > stats["n_cells"]
        assert after["skew"] < stats["skew"]

    def test_staged_swap_crash_recovery(self, spark, store):
        """A leftover __staged table from a crashed compaction must be
        resolved, not crash the next run: staged+live → staged dropped
        (live intact, rewrite reruns); staged-only → rename finishes."""
        from easydb_server_spark.operators.similarity import (
            compact_ivf_store,
            write_ivf_store,
        )
        from easydb_server_spark.tables import recover_staged

        base = spark.createDataFrame(
            [(i, [float(i), 1.0]) for i in range(12)], "vec_id long, v array<double>"
        )
        write_ivf_store(base, "v", "vec_id", store, n_cells=4)
        # simulate crash AFTER staged commit, BEFORE live drop
        spark.table(store).write.partitionBy("cell").format("parquet").saveAsTable(
            f"{store}__staged"
        )
        n = compact_ivf_store(spark, store)
        assert n == 12
        assert not spark.catalog.tableExists(f"{store}__staged")
        # simulate crash AFTER live drop, BEFORE rename
        spark.table(store).write.partitionBy("cell").format("parquet").saveAsTable(
            f"{store}__staged"
        )
        spark.sql(f"DROP TABLE {store}")
        recover_staged(spark, store)
        assert spark.catalog.tableExists(store)
        assert spark.table(store).count() == 12

    def test_legacy_store_without_seq_refuses_append(self, spark, store):
        from easydb_server_spark.operators.similarity import append_to_ivf_store

        legacy = spark.createDataFrame(
            [(1, 10, [1.0, 0.0])], "cell long, cid long, cvec array<double>"
        )
        legacy.write.partitionBy("cell").format("parquet").saveAsTable(store)
        spark.createDataFrame([(1, [1.0, 0.0])], "cell long, centroid array<double>").write.format(
            "parquet"
        ).saveAsTable(f"{store}_centroids")
        batch = spark.createDataFrame([(2, [0.5, 0.5])], "vec_id long, v array<double>")
        with pytest.raises(ValueError, match="seq"):
            append_to_ivf_store(spark, batch, "v", "vec_id", store)


class TestIncrementalEmbeddingNeardup:
    def test_batch_dups_found_novel_vectors_pass(self, spark, store):
        from easydb_server_spark.operators.similarity import (
            incremental_embedding_neardup,
            write_ivf_store,
        )

        import math

        corpus = spark.createDataFrame(
            [
                (i, [math.cos(i * math.pi / 16), math.sin(i * math.pi / 16)])
                for i in range(32)
            ],
            "vec_id long, v array<double>",
        )
        write_ivf_store(corpus, "v", "vec_id", store, n_cells=4)
        # batch: two near-copies of stored vectors + one novel direction
        eps = 1e-4
        batch = spark.createDataFrame(
            [
                (100, [math.cos(3 * math.pi / 16) + eps, math.sin(3 * math.pi / 16)]),
                (101, [math.cos(20 * math.pi / 16), math.sin(20 * math.pi / 16) - eps]),
                (102, [math.cos(0.5 * math.pi / 16 + 0.1), math.sin(0.5 * math.pi / 16 + 0.1)]),
            ],
            "vec_id long, v array<double>",
        )
        pairs = incremental_embedding_neardup(
            spark, batch, "v", "vec_id", store, threshold=0.999999, nprobe=2
        ).collect()
        by_batch = {}
        for r in pairs:
            by_batch.setdefault(r.batch_id, set()).add(r.corpus_id)
        assert by_batch.get(100) == {3}
        assert by_batch.get(101) == {20}
        assert 102 not in by_batch  # novel direction admitted

    def test_probe_reads_only_probed_partitions(self, spark, store):
        from easydb_server_spark.operators.similarity import (
            incremental_embedding_neardup,
            write_ivf_store,
        )

        base = spark.createDataFrame(
            [(i, [float(i % 5), float(i)]) for i in range(50)],
            "vec_id long, v array<double>",
        )
        write_ivf_store(base, "v", "vec_id", store, n_cells=8)
        batch = spark.createDataFrame([(200, [1.0, 25.0])], "vec_id long, v array<double>")
        df = incremental_embedding_neardup(spark, batch, "v", "vec_id", store, nprobe=1)
        p = _explain(df)
        # the store side is gated by the broadcast cell semi-join; no
        # full-store shuffle appears above the store scan
        assert "BroadcastExchange" in p or "BroadcastHashJoin" in p
        df.collect()  # executes end-to-end
