"""Physical-plan contracts: the shuffle/Python-stage counts PERF.md
claims are the engine's scale story — this suite pins them so a future
edit that silently adds an exchange (or drops a kernel onto the
driver) fails CI instead of surfacing as a 100 TB regression.

Counts are taken from the EXECUTED plan string (post-AQE). They are
environment-pinned (Spark 4.1, local mode): if a Spark upgrade moves a
count, the assertion failing is the point — re-audit, then re-pin."""

from __future__ import annotations

import re

import pytest

from ecg_feature_engineering_spark import contract


def _counts(df):
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    # AQE prints "== Final Plan ==" followed by "== Initial Plan ==" —
    # counting the raw string double-counts every node
    p = p.split("== Initial Plan ==")[0]
    return {
        # every data-moving shuffle: hash, range, AND SinglePartition
        # (a global-aggregate/coalesce-to-one stage is a real shuffle —
        # only BroadcastExchange is excluded, cheap by design)
        "shuffles": len(re.findall(
            r"Exchange (?:hashpartitioning|rangepartitioning"
            r"|SinglePartition)", p)),
        "python": len(re.findall(
            r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas"
            r"|BatchEvalPython", p)),
        "arrow_eval": len(re.findall(r"ArrowEvalPython", p)),
        "cartesian": len(re.findall(r"CartesianProduct", p)),
    }


@pytest.mark.parametrize("name,max_shuffles,max_python", [
    # scan-local text family: ZERO shuffles, zero Python
    ("gopher_quality", 0, 0),
    ("pii_scrub", 0, 0),
    ("dup_ngram_fraction", 0, 0),
    ("time_features", 0, 0),
    ("token_counts", 0, 0),
    ("langid", 0, 0),
    # one entity shuffle shared by every window term
    ("ewma_events", 1, 0),
    ("lag_diffs", 1, 0),
    ("sessionize", 1, 0),
    ("rank_features", 1, 0),
    ("target_encoding_pit", 1, 0),
    ("expanding_zscore", 1, 0),
    # the as-of union + window fill: one shuffle on the entity key in
    # either direction, the tolerance gate a projection on top
    ("asof_backward", 1, 0),
    ("asof_forward", 1, 0),
    ("asof_tolerance", 1, 0),
    # winnowing selection is per-row array algebra — zero shuffles; the
    # InferFiltersFromGenerate regression (PERF.md) would reappear as a
    # wall-clock hang, but the match-pairs budget (df-cap agg + anti-join
    # + pair agg over the final aggregate) pins the posting-list shape
    ("winnow_fingerprints", 0, 0),
    ("winnow_match_pairs", 4, 0),
    # one (entity, bar) shuffle shared by the rank window and the agg
    ("ohlc_time_bars", 1, 0),
    # packing: ONE shard-window shuffle — a global cumsum (the naive
    # spelling) would show up here as a SinglePartition exchange
    ("pack_token_stream", 1, 0),
    # decontamination (one-pass spelling): benchmark-distinct agg + the
    # single doc-keyed count(marker) agg + the list-every-doc left
    # join's exchange; the gram join itself must stay broadcast/equi (a
    # 4th exchange or a cartesian = the O(corpus x benchmark)
    # regression)
    ("benchmark_contamination", 3, 0),
    # line repetition is within-document: scan-local like dup_ngram
    ("line_repetition", 0, 0),
    # ONE gram explode for all of n in {2,3,4}: (doc,n,gram) count agg
    # + the (doc,n) top-1 window — a per-n pass would show 6 exchanges
    ("top_ngram_stats", 2, 0),
    # the shard agg must REUSE the packing window's
    # hashpartitioning(shard) exchange — a second exchange means the
    # same-key reuse broke
    ("pack_efficiency", 1, 0),
    # per-source agg + the two 1-row corpus-constant stages (tiny
    # table; the constants ride a broadcast back, never a window)
    ("source_mixture", 3, 0),
    # fp count-distinct agg + occurrence-side fp join exchange +
    # doc-keyed agg; the list-every-doc left join must stay
    # broadcast/equi — a cartesian or a 4th exchange means the
    # fixed-width-fp join shape broke
    ("paragraph_dedup", 3, 0),
    # DSIR fit/score two-pass: union cqa agg + bucket marginal + two
    # explode-free SinglePartition totals + score-side cqa + doc agg +
    # the list-every-doc join's left-side exchange; the 10k-row model
    # must ride a broadcast (a bucket-keyed shuffle of occurrences =
    # the hot-bucket skew regression)
    ("dsir_importance", 7, 0),
    # scan-local URL extraction -> (domain, doc) distinct + domain agg
    # (count-distinct two-phase) + the 1-row total; share rides a
    # broadcast back
    ("domain_mix", 4, 0),
    # one corpus agg pass (source rates) + the tiny max stage; the
    # rate table must ride a BROADCAST back onto the scan filter — a
    # doc-keyed shuffle means the scan-local sampling shape broke
    ("mixture_sample", 3, 0),
    # the 7-stage composed pipeline, un-checkpointed: roughly the sum
    # of its stage budgets (fingerprint window + contamination aggs +
    # mixture rates + shard packing) with the survivor subtree
    # re-derived per consumer — a job run checkpoints between stages
    # (plans/corpus_pipeline.py docstring); still zero Python stages
    # and zero cartesians end to end
    ("corpus_curate", 13, 0),
    # line-frequency agg + occurrence join + doc-keyed rebuild agg;
    # the thin (fp, n_docs) table stays broadcast/equi
    ("c4_line_dedup", 3, 0),
    # SemDeDup: cluster-local self-join on cluster_id + dup-id semi
    # table + the 1-row digest agg; assignment is scan-local (centroid
    # sims are literal fold expressions) and the pair space must stay
    # an equi-join — a cartesian = the N^2 regression the clustering
    # exists to avoid
    ("semdedup", 3, 0),
    # per-doc overlap chunking rides the scan (the U10 row-expanding
    # shape, bounded sequence explode)
    ("chunk_overlap_spans", 0, 0),
    # quarantine rides the corpus scan: ZERO shuffles; 2 Python stages
    # = the seeded-corpus mapInPandas synthesis + the status kernel
    # (a production read replaces the first with a parquet scan)
    ("decode_quarantine", 0, 2),
])
def test_query_shuffle_budget(spark, sf_dir, name, max_shuffles,
                              max_python):
    contract.ensure_workers_can_import(spark)
    c = _counts(contract.QUERY_BUILDERS[name](spark, sf_dir))
    assert c["shuffles"] <= max_shuffles, c
    assert c["python"] <= max_python, c
    assert c["cartesian"] == 0, c


def test_image_decode_is_shuffle_free(spark, sf_dir):
    """The payload kernel rides the scan partitions: decode at any corpus
    size must move ZERO rows between executors before the digest agg."""
    contract.ensure_workers_can_import(spark)
    df = contract.QUERY_BUILDERS["image_decode_stats"](spark, sf_dir)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    # everything upstream of the final per-fmt digest aggregation must be
    # exchange-free: the only allowed shuffle ships digest partials
    kernel_side = p.split("Exchange hashpartitioning")[-1]
    assert "MapInPandas" in kernel_side or "ArrowEvalPython" in kernel_side


def test_flagship_shuffle_budget(spark, sf_dir):
    """PERF.md's headline claim: both as-of joins fused into ONE
    shuffle+sort (asof_join_many), 2 data shuffles total, no cartesian,
    no Python off the payload/digest path, and the payload kernel run
    once: the ok-filter in ``assemble`` must not plan a second call of
    the struct UDF."""
    contract.ensure_workers_can_import(spark)
    from ecg_feature_engineering_spark.plans import flagship as fp

    out = fp.flagship(spark, sf_dir, n_images=120)
    c = _counts(out)
    # pin EXACTLY the documented budget: un-fusing the two as-of joins
    # (the regression this test exists for) would add a third shuffle
    assert c["shuffles"] <= 2, c
    assert c["cartesian"] == 0, c
    assert c["arrow_eval"] == 1, c
