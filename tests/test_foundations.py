"""Unit tests for the foundation modules: loaders, numeric helpers,
session conf behavior."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from integrator_spark.functions.num import davg, dsum
from integrator_spark.io import TABLES, load_all, load_table, register_views

from .conftest import TEST_SF_DIR


def test_load_all_tables_have_rows_and_ts_types(spark):
    dfs = load_all(spark, TEST_SF_DIR)
    assert set(dfs) == set(TABLES)
    for name, df in dfs.items():
        assert df.count() > 0, name
    # events ts must arrive as a usable timestamp despite TIMESTAMP(NANOS)
    assert dict(dfs["events"].dtypes)["ts"] == "timestamp"
    assert dict(dfs["embeddings"].dtypes)["embedding"] == "array<float>"


def test_table_rows_is_logical_and_footer_only(spark):
    # table_rows must agree with the engine's own count (it reads only
    # parquet footers) and return None for a missing table — the
    # 'assume big' contract its routing callers rely on. Unlike
    # table_bytes it is invariant to codec/layout, which is why
    # exact-vs-approx plan routing (events_outliers_mad) uses it.
    from integrator_spark.io import table_rows
    assert table_rows(TEST_SF_DIR, "events") == \
        load_table(spark, TEST_SF_DIR, "events").count()
    assert table_rows(TEST_SF_DIR, "nation") == 25
    assert table_rows(TEST_SF_DIR, "no_such_table") is None
    assert table_rows("/nonexistent_dir", "events") is None


def test_register_views_enables_sql(spark):
    register_views(spark, TEST_SF_DIR, ["nation", "region"])
    n = spark.sql("SELECT COUNT(*) AS n FROM nation JOIN region "
                  "ON n_regionkey = r_regionkey").collect()[0].n
    assert n == 25


def test_dsum_is_exact_and_order_independent(spark):
    vals = [(0.1,)] * 100 + [(0.2,)] * 50
    df = spark.createDataFrame(vals, "x double")
    total = df.repartition(7).agg(dsum("x").alias("s")).collect()[0].s
    assert total == 20.0  # plain double summation would give 20.000000000000004
    avg = df.repartition(3).agg(davg("x").alias("a")).collect()[0].a
    assert avg == pytest.approx(20.0 / 150, abs=0)


def test_missing_table_raises_clearly(spark):
    from pyspark.errors.exceptions.captured import AnalysisException
    with pytest.raises(AnalysisException):
        load_table(spark, TEST_SF_DIR, "no_such_table").collect()


def test_testing_module_compare_matches_gate(spark):
    from integrator_spark.testing import compare_with_oracle, duckdb_connection
    con = duckdb_connection(TEST_SF_DIR)
    try:
        r = compare_with_oracle(spark, TEST_SF_DIR, "q1_pricing_summary", con)
        assert r.ok and r.exact and r.spark_rows == r.oracle_rows
        r2 = compare_with_oracle(spark, TEST_SF_DIR, "agg_approx_distinct", con)
        assert r2.ok and r2.rows_only
    finally:
        con.close()


def test_replace_overlap_semantics_match_duckdb(spark):
    """General cross-engine pin: replace() scans left-to-right
    without overlap and resumes AFTER the replacement, identically in
    Spark and DuckDB, including the overlapping-occurrence case
    (' a a a a ' with pattern ' a a '). NOTE this shared semantics is
    exactly why padded-replace is NOT a valid BPE merge (it skips the
    second merge of a run — see _merge_fold_expr); BPE now folds, and
    this pin documents the replace behavior for anything else that
    reaches for it."""
    import duckdb

    from pyspark.sql import functions as F
    cases = [(" a a a a ", " a a ", " aa "),
             (" b a a a ", " a a ", " aa "),
             (" a a a ", " a a ", " aa ")]
    for s, pat, rep in cases:
        got_s = spark.range(1).select(
            F.expr(f"replace('{s}', '{pat}', '{rep}')").alias("r")
        ).first()["r"]
        got_d = duckdb.sql(
            f"SELECT replace('{s}', '{pat}', '{rep}')").fetchone()[0]
        assert got_s == got_d, (s, got_s, got_d)


def test_bpe_train_learns_real_merges(spark):
    """The learned merge table must be non-trivial: 10 rules, each
    merged symbol the concatenation of its pair, later rules can build
    on earlier merges, and counts are non-increasing-ish sanity (each
    count positive)."""
    from integrator_spark.registry import get_queries

    rows = get_queries()["text_bpe_train"](
        spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 10
    assert [r.step for r in rows] == list(range(1, 11))
    for r in rows:
        assert r.merged == r.sym_l + r.sym_r
        assert r.pair_count > 0
    # at least one multi-char symbol participates in a later merge
    assert any(len(r.sym_l) > 1 or len(r.sym_r) > 1 for r in rows)


def test_bpe_train_deep_prefix_stable_and_deterministic(spark):
    """Round-10: the 60-rule deep run (text_bpe_train_deep, rows-only)
    is pinned by greedy BPE's PREFIX PROPERTY — its first 10 rules
    must equal the oracle-backed text_bpe_train's output exactly
    (same corpus, same tie-break, longer loop), its full rule
    sequence must rerun bit-identically, and every later rule keeps
    the merge invariants."""
    from integrator_spark.registry import get_queries

    qs = get_queries()
    sf = "/root/testdata/sf0.001"
    ten = [tuple(r) for r in qs["text_bpe_train"](spark, sf).collect()]
    deep = [tuple(r) for r in qs["text_bpe_train_deep"](spark, sf).collect()]
    assert len(deep) == 60
    assert deep[:10] == ten, "prefix property violated"
    for step, sym_l, sym_r, merged, pair_count in deep:
        assert merged == sym_l + sym_r and pair_count > 0
    rerun = [tuple(r) for r in
             qs["text_bpe_train_deep"](spark, sf).collect()]
    assert rerun == deep, "deep BPE training is not deterministic"


def test_etl_backfill_leaves_other_partitions_untouched(spark, tmp_path):
    """Dynamic partition overwrite must rewrite ONLY the partitions
    present in the incoming frame: every other partition's files are
    byte-stable (names, sizes, mtimes) across the overwrite, and the
    replaced partition's content actually changes. Static mode would
    wipe the whole table — the exact footgun etl_backfill's setting
    exists to avoid."""
    import os

    target = str(tmp_path / "rollup")
    base = spark.createDataFrame(
        [("2024-01-01", 1), ("2024-01-02", 2), ("2024-01-03", 3)],
        "day string, v int")
    base.write.mode("overwrite").partitionBy("day").parquet(target)

    def snapshot():
        out = {}
        for d in os.listdir(target):
            if d.startswith("day="):
                p = os.path.join(target, d)
                out[d] = sorted(
                    (f, os.path.getsize(os.path.join(p, f)),
                     os.path.getmtime(os.path.join(p, f)))
                    for f in os.listdir(p) if f.endswith(".parquet"))
        return out

    before = snapshot()
    fix = spark.createDataFrame([("2024-01-02", 20)], "day string, v int")
    (fix.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("day").parquet(target))
    after = snapshot()
    assert after["day=2024-01-01"] == before["day=2024-01-01"]
    assert after["day=2024-01-03"] == before["day=2024-01-03"]
    assert after["day=2024-01-02"] != before["day=2024-01-02"]
    got = {(str(r.day), r.v)
           for r in spark.read.parquet(target).collect()}
    assert got == {("2024-01-01", 1), ("2024-01-02", 20),
                   ("2024-01-03", 3)}


def test_sessions_list_partitions_with_one_task_per_core(spark):
    from integrator_spark.session import LISTING_PARALLELISM, ensure_runtime_confs
    cores = str(spark.sparkContext.defaultParallelism)
    assert spark.conf.get(LISTING_PARALLELISM) == cores      # build_session
    # a session built elsewhere, without our builder options
    fresh = spark.newSession()
    fresh.conf.unset(LISTING_PARALLELISM)
    assert fresh.conf.get(LISTING_PARALLELISM) != cores
    assert ensure_runtime_confs(fresh).conf.get(LISTING_PARALLELISM) == cores
