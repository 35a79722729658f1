"""Persisted-table writes: every from-scratch writer succeeds over a
location an earlier session left behind, and no module outside
easydb_server_spark/tables.py spells its own overwrite/drop/rename."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "a completely different sentence about apples and pears"),
            (4, "tiny text"),
        ],
        "doc_id long, text string",
    )


def _vecs(spark):
    return spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5), 1.0, float(i)]) for i in range(12)],
        "vec_id long, v array<double>",
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _digest(spark, t):
    from easydb_server_spark.operators.dedup import digest_index, write_digest_index

    idx = digest_index(_docs(spark), "text", "doc_id")
    write_digest_index(idx, t, n_buckets=4)
    return {t: _rows(idx)}


def _minhash(spark, t):
    from easydb_server_spark.operators.dedup import minhash_index, write_minhash_index

    bands, sigs = minhash_index(_docs(spark), "text", "doc_id")
    write_minhash_index(bands, sigs, t, n_buckets=4)
    return {f"{t}_bands": _rows(bands), f"{t}_sigs": _rows(sigs)}


def _landmark(spark, t):
    from easydb_server_spark.operators.audiofp import write_landmark_index

    lms = spark.createDataFrame(
        [(1, 0, 11), (1, 1, 12), (2, 0, 11)], "item_id long, t int, lm long"
    )
    write_landmark_index(lms, t, n_buckets=4)
    return {t: _rows(lms)}


def _ivf(spark, t):
    from easydb_server_spark.operators.similarity import write_ivf_store

    write_ivf_store(_vecs(spark), "v", "vec_id", t, n_cells=2)
    return {t: list(range(12))}


def _pq_write(spark, t):
    from easydb_server_spark.operators.pq import write_pq_store

    write_pq_store(_vecs(spark), "v", "vec_id", t, m=2, k=4)
    return {t: list(range(12))}


def _pq_rebuild(spark, t):
    from easydb_server_spark.operators.pq import rebuild_pq_store

    rebuild_pq_store(spark, _vecs(spark), "v", "vec_id", t, m=2, k=4)
    return {t: list(range(12))}


def _nb(spark, t):
    from easydb_server_spark.operators.text import write_nb_quality

    d = _docs(spark)
    write_nb_quality(d.where("doc_id < 3"), d.where("doc_id >= 3"), "text", t)
    # (n_pos, n_neg, v): 2 x 9 positive words, 8 + 2 negative, 18 terms
    return {f"{t}_meta": [(18, 10, 18)]}


def _unigram(spark, t):
    from easydb_server_spark.operators.text import write_unigram_lm

    write_unigram_lm(_docs(spark), "text", "doc_id", t, vocab_size=3)
    # (n_words_corpus, v): 9 + 9 + 8 + 2 words, a 3-term vocabulary
    return {f"{t}_meta": [(28, 3)]}


def _bench_digests(spark, t):
    import pyspark.sql.functions as F

    from easydb_server_spark.operators.dedup import _shingle_hash60, word_shingles
    from easydb_server_spark.streaming.ingest import write_benchmark_digests

    d = _docs(spark).where("doc_id = 4")
    write_benchmark_digests(d, "text", "doc_id", t)
    want = word_shingles(d, "text", "doc_id").select(_shingle_hash60(F.col("shingle")))
    return {t: _rows(want)}


def _ingest(spark, t, engine, tmp_path):
    from easydb_server_spark.http_app import create_app

    src = tmp_path / "src.csv"
    src.write_text("k,v\n1,a\n2,b\n3,c\n")
    app = create_app(engine)
    app.config["TESTING"] = True
    r = app.test_client().post(
        "/ingest", json={"table": t, "location": str(src), "bucket_by": "k", "n_buckets": 2}
    )
    assert r.status_code == 200, r.get_data(as_text=True)
    return {t: [(1, "a"), (2, "b"), (3, "c")]}


WRITERS = {
    "write_digest_index": (_digest, [""]),
    "write_minhash_index": (_minhash, ["_bands", "_sigs"]),
    "write_landmark_index": (_landmark, [""]),
    "write_ivf_store": (_ivf, ["", "_centroids"]),
    "write_pq_store": (_pq_write, ["", "_codebook"]),
    "rebuild_pq_store": (_pq_rebuild, ["", "_codebook"]),
    "write_nb_quality": (_nb, ["", "_meta"]),
    "write_unigram_lm": (_unigram, ["", "_meta"]),
    "write_benchmark_digests": (_bench_digests, [""]),
    "ingest_bucketed": (_ingest, [""]),
}


@pytest.mark.parametrize("writer", list(WRITERS))
def test_write_over_orphaned_location(spark, writer, engine, tmp_path):
    """A previous session wrote the table: its warehouse directory holds
    a file, but this session's catalog has no entry. The from-scratch
    write must replace it and read back exactly the new rows."""
    build, suffixes = WRITERS[writer]
    base = f"orphan_{writer}"
    names = [base + s for s in suffixes]
    wh = Path(spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"))
    for n in names:
        spark.sql(f"DROP TABLE IF EXISTS {n}")
        d = wh / n
        d.mkdir(parents=True, exist_ok=True)
        (d / "part-00000-stray.snappy.parquet").write_bytes(b"not parquet")
        assert not spark.catalog.tableExists(n)
    try:
        if writer == "ingest_bucketed":
            want = build(spark, base, engine, tmp_path)
        else:
            want = build(spark, base)
        for n in names:
            assert spark.catalog.tableExists(n)
            assert not (wh / n / "part-00000-stray.snappy.parquet").exists()
        for n, rows in want.items():
            t = spark.table(n)
            if "cid" in t.columns:  # IVF/PQ stores: the ids written, once each
                assert sorted(r.cid for r in t.select("cid").collect()) == rows
            else:
                assert _rows(t) == rows
    finally:
        for n in names:
            spark.sql(f"DROP TABLE IF EXISTS {n}")


def _package_files():
    yield from sorted((REPO / "easydb_server_spark").rglob("*.py"))
    yield from sorted((REPO / "tools").glob("*.py"))


def _docstrings(tree):
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
                out.add(id(body[0].value))
    return out


def _chain_has_overwrite(node) -> bool:
    """Whether a method chain ``a.b(...).c(...)`` calls ``mode("overwrite")``."""
    while isinstance(node, (ast.Call, ast.Attribute)):
        if isinstance(node, ast.Call):
            f = node.func
            if (
                isinstance(f, ast.Attribute)
                and f.attr == "mode"
                and node.args
                and isinstance(node.args[0], ast.Constant)
                and node.args[0].value == "overwrite"
            ):
                return True
            node = f
        else:
            node = node.value
    return False


def test_table_writes_only_in_tables_module():
    offenders = []
    for path in _package_files():
        if path.name == "tables.py" and path.parent.name == "easydb_server_spark":
            continue
        tree = ast.parse(path.read_text(), str(path))
        docs = _docstrings(tree)
        rel = path.relative_to(REPO)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "saveAsTable"
                and _chain_has_overwrite(node.func.value)
            ):
                offenders.append(f"{rel}:{node.lineno} overwrite saveAsTable")
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in docs
                and ("DROP TABLE" in node.value.upper() or "RENAME TO" in node.value.upper())
            ):
                offenders.append(f"{rel}:{node.lineno} {node.value.strip()[:40]!r}")
    assert offenders == []


def test_rewrite_recovers_and_counts(spark):
    """rewrite_table swaps a staged copy in and returns the new count;
    recover_staged finishes a swap whose live table was dropped."""
    from easydb_server_spark.tables import drop_table, recover_staged, rewrite_table, write_table

    t = "tables_rewrite_t"
    df = spark.createDataFrame([(i, i % 3) for i in range(9)], "id long, p int")
    try:
        write_table(df, t, partition_by="p")
        assert rewrite_table(spark.table(t).where("id < 6"), t, partition_by="p") == 6
        assert _rows(spark.table(t)) == _rows(df.where("id < 6"))
        # crash after the live drop, before the rename
        write_table(spark.table(t).where("id < 3"), f"{t}__staged", partition_by="p")
        drop_table(spark, t)
        recover_staged(spark, t)
        assert not spark.catalog.tableExists(f"{t}__staged")
        assert _rows(spark.table(t)) == _rows(df.where("id < 3"))
    finally:
        drop_table(spark, t)
        drop_table(spark, f"{t}__staged")


def test_drop_table_refuses_non_identifiers(spark):
    from easydb_server_spark.tables import drop_table

    with pytest.raises(ValueError):
        drop_table(spark, "`a/../b`")
