"""Driver-contract check: run every queries() entry at sf0.01 and compare
against its oracle_sql() via DuckDB exactly like the driver does
(row-count + order-insensitive value comparison, columns sorted by name).
"""

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

pytestmark = pytest.mark.spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_T2", "/root/testdata/sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(value):
    if isinstance(value, float):
        if math.isnan(value):
            return "nan"
        return round(value, 6)
    return value


def _normalize(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(row[i]) for i in order) for row in rows]
    return sorted(cols), sorted(out, key=lambda r: tuple(map(str, r)))


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.sql("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'"
                % (t, SF_DIR, t))
    return con


QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


def test_every_oracle_key_has_a_query():
    assert set(ORACLES) <= set(QUERIES)


@pytest.mark.parametrize("name", sorted(ORACLES), ids=sorted(ORACLES))
def test_query_matches_oracle(spark, ddb, name):
    sdf = QUERIES[name](spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(row) for row in sdf.collect()]

    result = ddb.sql(ORACLES[name])
    ocols = [d[0] for d in result.description]
    orows = result.fetchall()

    s_cols, s_rows = _normalize(scols, srows)
    o_cols, o_rows = _normalize(ocols, orows)
    assert s_cols == o_cols, "column mismatch"
    assert len(s_rows) == len(o_rows), \
        "row count: spark=%d oracle=%d" % (len(s_rows), len(o_rows))
    mismatches = [(a, b) for a, b in zip(s_rows, o_rows) if a != b]
    assert not mismatches, "first mismatches: %s" % mismatches[:3]


def test_rows_only_queries_run(spark):
    """As of round 6 EVERY registered query has an oracle_sql entry
    (the set below is empty — the parametrized form skipped on the
    empty set, which read as a missing test).  Any future rows-only
    query must still at least run and produce a schema."""
    for name in sorted(set(QUERIES) - set(ORACLES)):
        df = QUERIES[name](spark, SF_DIR)
        assert df.count() >= 0
        assert len(df.columns) > 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 500
    assert df.columns == ["subj", "pred", "obj", "obj_is_literal",
                          "obj_lang", "obj_datatype", "component_pos",
                          "record_id"]


def test_widen_unsplittable_scan(spark, tmp_path):
    """Round-7 _t widening: with ``widen=True`` a one-row-group
    documents table above the row floor is repartitioned to the session
    parallelism right after the read (rows identical); a tiny table is
    left alone (no extra exchange at correctness SFs), and so is any
    table read without the opt-in."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    big = tmp_path / "big"
    big.mkdir()
    n = 5000
    pq.write_table(pa.table({
        "doc_id": list(range(n)),
        "text": ["alpha beta gamma %d" % i for i in range(n)]}),
        str(big / "documents.parquet"))
    df = entry_mod._t(spark, str(big), "documents", widen=True)
    assert df.rdd.getNumPartitions() == \
        spark.sparkContext.defaultParallelism
    assert df.count() == n
    assert df.agg({"doc_id": "sum"}).first()[0] == n * (n - 1) // 2
    # widening is opt-in: the default read keeps the file's one split
    assert entry_mod._t(spark, str(big), "documents") \
        .rdd.getNumPartitions() == 1

    small = tmp_path / "small"
    small.mkdir()
    pq.write_table(pa.table({
        "doc_id": [1, 2], "text": ["a", "b"]}),
        str(small / "documents.parquet"))
    df2 = entry_mod._t(spark, str(small), "documents", widen=True)
    assert df2.rdd.getNumPartitions() == 1
    assert df2.count() == 2


def test_widen_many_file_scan_opens_no_footer(spark, tmp_path,
                                              monkeypatch):
    """A documents table with at least cores/2 files already has that
    many scan splits: _t decides against widening from the file count
    alone and opens no parquet footer, however many rows it holds."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = tmp_path / "documents.parquet"
    table.mkdir()
    n_files, per_file = 6, 400
    for k in range(n_files):
        ids = list(range(k * per_file, (k + 1) * per_file))
        pq.write_table(pa.table({
            "doc_id": ids, "text": ["alpha beta %d" % i for i in ids]}),
            str(table / ("part-%05d.parquet" % k)))
    assert n_files >= max(spark.sparkContext.defaultParallelism // 2, 2)

    opened = []
    real = pq.ParquetFile

    def counting(*args, **kwargs):
        opened.append(args[0] if args else kwargs)
        return real(*args, **kwargs)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    df = entry_mod._t(spark, str(tmp_path), "documents", widen=True)
    assert opened == []
    assert "RoundRobinPartitioning" not in \
        df._jdf.queryExecution().executedPlan().toString()
    assert df.count() == n_files * per_file


def test_repeated_read_launches_no_job(spark, tmp_path):
    """Only the first _t of a table pays Spark's schema-inference job;
    a second read of the unchanged file passes the cached schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"event_id": [1, 2, 3]}),
                   str(tmp_path / "events.parquet"))
    entry_mod._t(spark, str(tmp_path), "events")
    sc = spark.sparkContext
    group = "test-repeated-read-%d" % os.getpid()
    sc.setJobGroup(group, "second read of an unchanged table")
    try:
        df = entry_mod._t(spark, str(tmp_path), "events")
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == []
    assert df.columns == ["event_id"]


def test_rewritten_table_is_inferred_again(spark, tmp_path):
    """The schema cache is keyed by file signature, not by path: a file
    rewritten with an extra column between two reads shows it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "events.parquet")
    pq.write_table(pa.table({"event_id": [1, 2]}), path)
    assert entry_mod._t(spark, str(tmp_path), "events").columns == \
        ["event_id"]
    pq.write_table(pa.table({"event_id": [3, 4], "value": [0.5, 1.5]}),
                   path)
    df = entry_mod._t(spark, str(tmp_path), "events")
    assert df.columns == ["event_id", "value"]
    assert sorted(tuple(r) for r in df.collect()) == [(3, 0.5), (4, 1.5)]
