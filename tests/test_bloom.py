"""Bloom-filter join pruning laws (operators/bloom.py): no false
negatives ever, bounded bitmap size, and a real survivor-rate win on
the selective-dimension fixture query."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_ai_assistent_spark.operators.bloom import M_BITS, bloom_prune, bloom_words

SF_DIR = "/root/testdata/sf0.001"


def test_no_false_negatives_and_bounded_words(spark):
    # 5000 keys x 2 seeds = 10000 probes: more than the M_BITS // 64
    # words, so the word bound below is a real one
    keys = spark.range(0, 5000).select((F.col("id") * 7 + 3).alias("k"))
    fact = spark.range(0, 20000).select((F.col("id") % 5000).alias("k"))
    words = bloom_words(keys, "k")
    assert words.count() <= M_BITS // 64
    surv = bloom_prune(fact, "k", words)
    true_match = fact.join(keys, "k", "left_semi")
    # every true match survives pruning (no false negatives)
    assert true_match.join(surv, "k", "left_anti").count() == 0
    # and pruning actually prunes: survivors well under the fact size
    n_fact, n_surv, n_true = fact.count(), surv.count(), true_match.count()
    assert n_true <= n_surv < n_fact * 0.5


def test_query_prune_rate_on_fixture(spark):
    o = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .filter(F.col("o_totalprice") > 490000)
        .select("o_orderkey")
    )
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select("l_orderkey")
    words = bloom_words(o, "o_orderkey")
    surv = bloom_prune(li, "l_orderkey", words)
    exact = li.join(o, li.l_orderkey == o.o_orderkey, "left_semi")
    n_li, n_surv, n_exact = li.count(), surv.count(), exact.count()
    assert n_exact <= n_surv  # no false negatives
    # the ~2% dimension prunes the fact scan hard (fp rate is tiny at
    # m=2^16 vs ~30 build keys at this sf)
    assert n_surv < n_li * 0.1
