"""Evidence tests for merge-on-read CDC (operators/mor.py): read
equivalence with folding merge_apply (CoW), bounded write/read
amplification vs copy-on-write, and compaction invariance."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_ai_assistent_spark import io
from etl_ai_assistent_spark.operators import mor as MOR
from etl_ai_assistent_spark.operators.merge import merge_apply
from etl_ai_assistent_spark.queries.relational import cdc_change_batches


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_mor_read_equals_cow_fold(spark, sf_small):
    """resolve(base, log) == merge_apply folded over the batches in seq
    order — the CoW/MoR equivalence that lets one oracle verify both."""
    c = io.load_table(spark, sf_small, "customer")
    batches = cdc_change_batches(c)

    log = None
    cow = c
    for seq, b in enumerate(batches, start=1):
        stamped = MOR.stamp_batch(b, seq)
        log = stamped if log is None else log.unionByName(stamped)
        cow = merge_apply(cow, b, key="c_custkey")

    assert _rows(MOR.resolve(c, log, key="c_custkey")) == _rows(cow)


def test_mor_latest_seq_wins_on_rekeyed_changes(spark):
    """Unlike the disjoint-key fixture batches, real CDC feeds touch the
    same key across batches: the higher seq must win, and a later D must
    erase an earlier U/I."""
    base = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    b1 = spark.createDataFrame(
        [(1, "U", "a1"), (3, "I", "c")], "k int, op string, v string"
    ).select("k", "op", "v")
    b2 = spark.createDataFrame(
        [(1, "U", "a2"), (3, "D", "c")], "k int, op string, v string"
    ).select("k", "op", "v")
    log = MOR.stamp_batch(b1, 1).unionByName(MOR.stamp_batch(b2, 2))
    got = _rows(MOR.resolve(base, log, key="k"))
    assert got == {(1, "a2"), (2, "b")}
    # fold the same batches through merge_apply -> identical
    cow = merge_apply(merge_apply(base, b1, key="k"), b2, key="k")
    assert got == _rows(cow)


def test_mor_write_amplification_bounded(spark, sf_small, tmp_path):
    """The scale claim: N commits write N·|batch| ROWS to the MoR log
    but N·|snapshot| rows under CoW (each commit rewrites the full
    snapshot). Row counts are the scale-honest measure — at sf0.001
    parquet footer overhead would swamp a byte comparison, while the
    row ratio is what carries to 100 TB."""
    c = io.load_table(spark, sf_small, "customer")
    log_dir = str(tmp_path / "log")

    cow_rows_written = 0
    cow = c
    for seq, b in enumerate(cdc_change_batches(c), start=1):
        MOR.stamp_batch(b, seq).write.mode("append").parquet(log_dir)
        cow = merge_apply(cow, b, key="c_custkey")
        cow_rows_written += cow.count()  # CoW rewrites the snapshot

    log_rows = spark.read.parquet(log_dir).count()
    base_rows = c.count()
    assert log_rows < base_rows  # the whole log is smaller than ONE rewrite
    assert cow_rows_written > 5 * log_rows  # vs three rewrites under CoW


def test_mor_read_amplification_two_scans(spark, sf_small, tmp_path):
    """A MoR read scans base once and log once — never base × batches.
    The physical plan must contain exactly two parquet scans regardless
    of how many batches sit in the log."""
    c = io.load_table(spark, sf_small, "customer")
    log_dir = str(tmp_path / "log")
    for seq, b in enumerate(cdc_change_batches(c), start=1):
        MOR.stamp_batch(b, seq).write.mode("append").parquet(log_dir)
    log = spark.read.parquet(log_dir)
    plan = (
        MOR.resolve(c, log, key="c_custkey")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan parquet") == 2, plan


def test_mor_compact_preserves_read(spark, sf_small, tmp_path):
    """compact() folds the log into a key-clustered new base; a read of
    (new base, empty log) equals the pre-compaction read, and the new
    base's zone maps cover disjoint key ranges (small-file fix)."""
    from etl_ai_assistent_spark.operators.compaction import partitioned_zone_maps

    c = io.load_table(spark, sf_small, "customer")
    log = None
    for seq, b in enumerate(cdc_change_batches(c), start=1):
        s = MOR.stamp_batch(b, seq)
        log = s if log is None else log.unionByName(s)

    before = _rows(MOR.resolve(c, log, key="c_custkey"))
    out = str(tmp_path / "base_v1")
    MOR.compact(c, log, key="c_custkey", out_path=out)

    new_base = spark.read.parquet(out).select(*c.columns)
    empty_log = log.filter(F.lit(False))
    assert _rows(MOR.resolve(new_base, empty_log, key="c_custkey")) == before

    zones = partitioned_zone_maps(out, "c_custkey")
    assert len(zones) >= 2
    for (_, _, hi1, _), (_, lo2, _, _) in zip(zones, zones[1:]):
        assert hi1 < lo2  # disjoint, ordered key ranges


def test_mor_rejects_base_sequence(spark):
    import pytest

    df = spark.createDataFrame([(1, "I", "x")], "k int, op string, v string")
    with pytest.raises(ValueError, match="sequence"):
        MOR.stamp_batch(df, 0)
