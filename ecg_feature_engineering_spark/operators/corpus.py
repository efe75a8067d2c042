"""Corpus-level training-data operators over the documents table
(scale additions — the corpus-wide half of an LLM data pipeline, next
to the scan-local quality filters in ``operators/text.py``): TF-IDF /
BM25 term statistics, benchmark decontamination, GPT-style token-stream
packing + the packing-efficiency ledger, per-doc overlap chunking,
top-n-gram repetition, temperature source mixing (report AND applied
deterministic downsampling), and DSIR hashed-n-gram importance weights.

Reference lineage: the reference computes only per-record features; these
are the cross-record analog of its per-signal summary statistics
(QRS_features.py per-beat aggregation), re-expressed as corpus
aggregations: tokenize -> explode -> two hash aggregations (term df,
doc length) + one broadcast of the tiny corpus-constant row.

100 TB shape: everything is groupBy on (doc, term) / term — no self-join,
no collect. Corpus constants (N docs, total token count) ride a 1-row
broadcast crossJoin; the term-df table joined back to doc-terms is a
plain equi-join on term (AQE broadcasts it while the vocabulary is small;
at web-scale vocabularies it becomes a sane shuffle join on the term
key — the same plan retrieval systems run).

Hash-stability contract (CLAUDE.md float laws):
- selection/ranking is on EXACT integers only — (tf DESC, df ASC, term)
  — never on a float score, so the emitted row SET is deterministic;
- every float score is FLOOR-quantized onto a 1e-6 grid and emitted as a
  BIGINT micro-unit value (``*_micro``), so cross-engine ln()/division
  last-ulp noise flips a value only within ~ulp of a grid boundary
  (P ~ 1e-9/value, the accepted fft_features class) instead of breaking
  the row set;
- BM25 per-term contributions are quantized to BIGINT BEFORE the per-doc
  sum: a float sum's result depends on partition visit order (non-
  associative), an integer sum does not.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ecg_feature_engineering_spark.operators.text import token_count, words

MICRO = 1_000_000.0
"""Fixed FLOOR grid (1e-6) for float scores; emitted as BIGINT micros."""


def doc_terms(df: DataFrame, text_col: str = "text",
              doc_id: str = "doc_id") -> DataFrame:
    """(doc_id, term, tf): lowercased whitespace-tokenized term
    frequencies, one row per distinct (doc, term).

    Null/empty text yields no rows (the doc still counts toward corpus
    N in the callers below). Tokenizer is the canonical ``text.words``
    (split-then-filter — one spelling to keep in sync with the oracles).
    The token array is BOUND to a column before the explode, and the
    explode is ``explode_outer`` + notNull filter — the two CLAUDE.md
    plan traps (per-element outer-expression re-eval;
    InferFiltersFromGenerate re-expanding the pipeline into a synthesized
    ``size(arr) > 0`` filter)."""
    out = (df.select(F.col(doc_id).alias("doc_id"),
                     words(F.lower(F.col(text_col))).alias("__toks"))
           .select("doc_id", F.explode_outer("__toks").alias("term"))
           .where(F.col("term").isNotNull())
           .groupBy("doc_id", "term")
           .agg(F.count(F.lit(1)).alias("tf")))
    return out


def _corpus_n(df: DataFrame, doc_id: str = "doc_id") -> DataFrame:
    """1-row (n_docs) corpus constant — broadcast-crossJoined by callers
    (no collect: the constant stays inside the lazy plan)."""
    return df.agg(F.count(F.lit(1)).alias("n_docs"))


def tfidf_terms(df: DataFrame, text_col: str = "text",
                doc_id: str = "doc_id") -> DataFrame:
    """Per (doc, term): tf, df, and the TF-IDF weight
    ``tf * ln(N / df)`` FLOOR-quantized to BIGINT micros.

    N counts EVERY input row (a null-text doc dilutes idf like any
    other corpus member); df counts docs containing the term."""
    terms = doc_terms(df, text_col, doc_id)
    term_df = terms.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = _corpus_n(df, doc_id)
    scored = (terms.join(term_df, "term")
              .crossJoin(F.broadcast(n)))
    tfidf = (F.col("tf").cast("double")
             * F.log(F.col("n_docs").cast("double")
                     / F.col("df").cast("double")))
    return scored.select(
        "doc_id", "term",
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        F.floor(tfidf * F.lit(MICRO)).cast("long").alias("tfidf_micro"))


def tfidf_top_terms(df: DataFrame, k: int = 5, text_col: str = "text",
                    doc_id: str = "doc_id",
                    min_tf: int = 2) -> DataFrame:
    """Top-k most-frequent terms per doc annotated with their TF-IDF
    weight. Selection is the EXACT integer tuple (tf DESC, df ASC, term
    ASC) — frequency first, rarer-in-corpus breaking ties — never the
    float score (see module contract: float ranking would make the
    emitted row SET flip on cross-engine ulp noise; integer ranking
    confines noise to the value column). ``min_tf`` drops hapax noise."""
    scored = tfidf_terms(df, text_col, doc_id).where(F.col("tf") >= min_tf)
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("doc_id", "rank", "term", "tf", "df", "tfidf_micro"))


def bm25_scores(df: DataFrame, query_terms: list[str],
                text_col: str = "text", doc_id: str = "doc_id",
                k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Okapi BM25 of every document against a fixed query-term list.

    score(d) = sum over matched terms of
        idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl)),
    idf(t) = ln((N - df + 0.5) / (df + 0.5))  (can go negative for
    terms in more than half the corpus — kept, per Robertson-Sparck
    Jones; no max(0,.) clamp).

    Exactness: dl (doc token count) and tf are ints; avgdl is ONE
    division of two exact longs (bit-identical across engines); each
    term's contribution is FLOOR-quantized to BIGINT micros BEFORE the
    per-doc sum so the sum is order-independent. Docs matching no query
    term are emitted with score 0 (left join from the corpus side —
    a ranking over the corpus must rank every doc)."""
    dl_col = F.size(words(F.lower(F.col(text_col))))
    docs = df.select(F.col(doc_id).alias("doc_id"),
                     F.coalesce(dl_col, F.lit(0)).cast("long").alias("dl"))

    terms = doc_terms(df, text_col, doc_id)
    qlits = [t.lower() for t in query_terms]
    qterms = terms.where(F.col("term").isin(qlits))
    term_df = qterms.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    # corpus constants in one 1-row broadcast: N and avgdl — aggregated
    # from the docs projection above (one tokenizer spelling, one plan)
    consts = docs.agg(F.count(F.lit(1)).alias("n_docs"),
                      F.sum("dl").alias("dl_sum"))

    j = (qterms.join(term_df, "term")
         .join(docs, "doc_id")
         .crossJoin(F.broadcast(consts)))
    n_d = F.col("n_docs").cast("double")
    avgdl = F.col("dl_sum").cast("double") / n_d
    idf = F.log((n_d - F.col("df") + 0.5) / (F.col("df") + 0.5))
    tf_d = F.col("tf").cast("double")
    denom = tf_d + k1 * (1.0 - b + b * (F.col("dl").cast("double") / avgdl))
    contrib = idf * tf_d * (k1 + 1.0) / denom
    per_term = j.select(
        "doc_id",
        F.floor(contrib * F.lit(MICRO)).cast("long").alias("c_micro"))
    scored = per_term.groupBy("doc_id").agg(
        F.sum("c_micro").alias("bm25_micro"),
        F.count(F.lit(1)).alias("n_terms_matched"))
    return (docs.select("doc_id", "dl").join(scored, "doc_id", "left")
            .select("doc_id", "dl",
                    F.coalesce(F.col("n_terms_matched"), F.lit(0))
                    .cast("long").alias("n_terms_matched"),
                    F.coalesce(F.col("bm25_micro"), F.lit(0))
                    .cast("long").alias("bm25_micro")))


def benchmark_contamination(df: DataFrame, benchmark: DataFrame,
                            text_col: str = "text",
                            doc_id: str = "doc_id", n: int = 3,
                            threshold_pct: int = 80) -> DataFrame:
    """Benchmark decontamination (the GPT-3/Dolma pipeline op): for every
    candidate training doc, the fraction of its distinct word n-grams
    that appear in ANY benchmark document, plus a contaminated flag.

    100 TB shape: ONE shingle explode over the candidate corpus (the
    2M-doc profile showed the previous two-branch spelling — separate
    ``totals`` and ``hits`` aggregations — re-running the explode AND
    the whole upstream candidate subtree twice, and it was the
    worst-scaling stage of the curation pipeline at 4→16 cores), one
    distinct agg over the (small) benchmark gram set, one LEFT
    marker-join on the gram key, one doc-keyed count agg. The benchmark
    side is tiny relative to the corpus (AQE broadcasts it; no hint, so
    a pathologically large benchmark degrades to a sane shuffle join
    instead of OOMing the driver).

    Exactness: counts are ints; ``contam_frac`` is ONE exact int/int
    quotient emitted unrounded (bit-identical cross-engine, CLAUDE.md);
    the flag compares ``n_contam * 100 >= n_grams * threshold_pct`` in
    integers — never the float. Docs with NULL text surface with
    n_grams 0 and NULL fraction (a decontamination report must list
    every candidate doc, not silently drop the undecodable ones)."""
    cand = df.select(F.col(doc_id).alias("doc_id"), text_col)
    counts = _contamination_counts(df, benchmark, text_col, doc_id, n)
    out = (cand.select("doc_id")
           .join(counts, "doc_id", "left")
           .select(
               "doc_id",
               F.coalesce(F.col("n_grams"), F.lit(0)).cast("long")
               .alias("n_grams"),
               F.coalesce(F.col("n_contam"), F.lit(0)).cast("long")
               .alias("n_contam")))
    frac = F.when(
        F.col("n_grams") > 0,
        F.col("n_contam").cast("double") / F.col("n_grams").cast("double"))
    flag = ((F.col("n_grams") > 0)
            & (F.col("n_contam") * 100 >= F.col("n_grams")
               * F.lit(int(threshold_pct))))
    return out.withColumns({"contam_frac": frac,
                            "contaminated": flag})


def _contamination_counts(df: DataFrame, benchmark: DataFrame,
                          text_col: str, doc_id: str,
                          n: int) -> DataFrame:
    """(doc_id, n_grams, n_contam) for every candidate doc with >= 1
    shingle (null-text docs produce no shingles and are absent — the
    public report restores them via its list-every-doc left join).
    One candidate-side explode: each distinct (doc, gram) row is
    LEFT-joined against the distinct benchmark gram set carrying a
    constant marker, so a single count/count(marker) agg yields both
    totals — gram multiplicity stays 1 because BOTH sides are distinct
    (``word_shingles`` array_distincts per doc)."""
    from ecg_feature_engineering_spark.operators.dedup import word_shingles

    sh = word_shingles(
        df.select(F.col(doc_id).alias("doc_id"), text_col),
        text_col, n=n, out="gram").select("doc_id", "gram")
    bench_grams = (word_shingles(
        benchmark.select(F.col(doc_id).alias("doc_id"), text_col),
        text_col, n=n, out="gram")
        .select("gram").distinct()
        .withColumn("__hit", F.lit(1)))
    return (sh.join(bench_grams, "gram", "left")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_grams"),
                 F.count("__hit").alias("n_contam")))


def contaminated_ids(df: DataFrame, benchmark: DataFrame,
                     text_col: str = "text", doc_id: str = "doc_id",
                     n: int = 3, threshold_pct: int = 80) -> DataFrame:
    """Just the doc_ids the decontamination stage REMOVES — the pipeline
    spelling (plans/corpus_pipeline.survivors): the contaminated set is
    small, so the caller anti-joins it (AQE broadcasts it) instead of
    semi-joining the ~corpus-sized clean-id set back through a shuffle;
    and the list-every-doc left join of the public report is skipped —
    a doc with zero grams can never be contaminated (``n_grams > 0`` is
    implied by presence in the counts table). Exactly equal to
    ``benchmark_contamination(...).where(contaminated).select(doc_id)``
    (pinned in tests/test_round3_ops.py)."""
    counts = _contamination_counts(df, benchmark, text_col, doc_id, n)
    return (counts.where(F.col("n_contam") * 100
                         >= F.col("n_grams") * F.lit(int(threshold_pct)))
            .select(F.col("doc_id").alias(doc_id)))


def pack_token_stream(df: DataFrame, ctx: int = 512,
                      text_col: str = "text", doc_id: str = "doc_id",
                      shard_col: str = "source",
                      sub_shard: Column | str | None = None) -> DataFrame:
    """GPT-style token-stream packing: concatenate each shard's documents in
    doc_id order into one token stream and cut it into fixed ``ctx``-token
    context windows; report where each doc lands (a doc may straddle
    chunks — that IS the op: packing wastes zero tokens on padding).

    Per-shard, not global: a single global cumulative sum would serialize
    the corpus through one partition. Real pipelines pack per shard/file
    — shard count grows with the data, so every window here is a bounded
    partition (documented scale contract; at 100 TB ``shard_col`` is the
    file/part key, thousands of parallel streams).

    All outputs are exact integers (cumulative sums of int token counts):
    start_off (tokens before this doc in its shard stream), chunk_first/
    chunk_last (ctx-window ids the doc touches; zero-token docs pin
    chunk_last = chunk_first), n_chunks.

    Chunk ids are PURE int64 arithmetic (`div`, truncating): float
    ``floor(cum / ctx)`` is exact only for power-of-two ctx — an
    arbitrary --ctx at large stream offsets can misround across an
    integer boundary (ADVICE r4). Both operands are non-negative except
    ``cum - 1 = -1`` on a zero-token stream head, where trunc-div gives
    0 and ``greatest(…, chunk_first=0)`` clamps identically in Spark
    and DuckDB (both truncate toward zero: Spark ``div``, DuckDB
    ``//``).

    ``sub_shard``: optional second-level stream key for skew defense —
    see :func:`pack_token_stream`'s caller notes. Without it, each
    shard's cumsum serializes through ONE reducer: fine when shard_col
    is the file/part key (thousands of bounded streams), a cliff when
    one shard holds a dominant row share (e.g. ``source =
    'common_crawl'``). Pass a column expression that is MONOTONE
    NON-DECREASING in doc_id within each shard (for int64 doc_ids:
    ``F.col("doc_id") / K`` via ``F.expr("doc_id div K")``; for string
    doc_ids: a fixed-length prefix). The cumsum then runs per
    (shard, sub_shard) — bounded partitions — and sub-stream offsets
    are stitched by adding the exclusive running total of sub-shard
    token sums (a window over the TINY per-sub-shard aggregate, one
    row per sub-shard). Offsets compose by addition, so results are
    bit-identical to the single-stream spelling (oracle-certified on a
    planted 90%-one-shard corpus in tests/test_adversarial_parity.py).
    """
    if ctx <= 0:
        raise ValueError(f"ctx must be a positive token count, got {ctx}")
    n_tok = F.coalesce(token_count(F.lower(F.col(text_col))), F.lit(0))
    d = df.select(F.col(doc_id).alias("doc_id"),
                  F.col(shard_col).alias("shard"),
                  n_tok.cast("long").alias("n_tokens"))
    if sub_shard is None:
        w = (Window.partitionBy("shard").orderBy("doc_id")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        d = d.withColumn("__cum", F.sum("n_tokens").over(w))
    else:
        sub = sub_shard if isinstance(sub_shard, Column) else F.col(sub_shard)
        d = d.withColumn("__sub", sub)
        wl = (Window.partitionBy("shard", "__sub").orderBy("doc_id")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        d = d.withColumn("__loc", F.sum("n_tokens").over(wl))
        # per-sub-shard totals: one row per (shard, sub) — tiny table;
        # exclusive prefix over it is a window over sub-shard COUNT rows,
        # not corpus rows, so the single-partition-per-shard stage holds
        # O(#subshards) data regardless of corpus size.
        tots = d.groupBy("shard", "__sub").agg(
            F.sum("n_tokens").alias("__sub_tot"))
        wo = (Window.partitionBy("shard").orderBy("__sub")
              .rowsBetween(Window.unboundedPreceding, -1))
        offs = tots.select(
            "shard", "__sub",
            F.coalesce(F.sum("__sub_tot").over(wo), F.lit(0))
            .alias("__off"))
        d = (d.join(F.broadcast(offs), ["shard", "__sub"])
             .withColumn("__cum", F.col("__loc") + F.col("__off")))
    start = F.col("__cum") - F.col("n_tokens")
    first = F.expr(f"(__cum - n_tokens) div {int(ctx)}")
    last = F.greatest(F.expr(f"(__cum - 1) div {int(ctx)}"), first)
    return (d.select(
        "doc_id", "shard", "n_tokens",
        start.cast("long").alias("start_off"),
        first.cast("long").alias("chunk_first"),
        last.cast("long").alias("chunk_last"),
        (last - first + 1).cast("long").alias("n_chunks")))


def top_ngram_char_fraction(df: DataFrame, ns: tuple[int, ...] = (2, 3, 4),
                            text_col: str = "text",
                            doc_id: str = "doc_id") -> DataFrame:
    """Gopher repetition signal: for each doc and each n in ``ns``, the
    most-frequently-occurring word n-gram and the fraction of the doc's
    normalized characters its occurrences cover (``dup_ngram_stats``
    carries the companion duplicate-n-gram fraction; this is the
    top-1-gram family).

    One explode for ALL of ``ns``: each doc's grams for every n are built
    into a single struct array (bound to a column first — per-element
    re-eval trap) and exploded once; then one (doc, n, gram) count agg
    and one (doc, n) top-1 window. Two shuffles total on doc-keyed
    composites — fine-grained keys, no skew pivot, no cross-doc join.

    Determinism/exactness: the winner per (doc, n) is picked on the
    EXACT integer tuple (cnt DESC, gram ASC); ``char_frac`` is one exact
    int/int quotient emitted unrounded (overlapping occurrences can
    legitimately push it past 1.0 — "the the the the" has three
    overlapping "the the" bigrams; documented, not clamped). Docs with
    fewer than n tokens emit no (doc, n) row: no gram exists — the
    filter semantics treat them as pass-through, unlike the
    list-every-doc contamination report."""
    from ecg_feature_engineering_spark.operators.text import token_count, words

    base = (df.select(F.col(doc_id).alias("doc_id"),
                      words(F.lower(F.col(text_col))).alias("__toks"))
            .withColumn("__denom",
                        F.length(F.array_join(F.col("__toks"), " "))))
    toks = F.col("__toks")
    k = F.size(toks)

    def grams_for(n: int):
        empty = F.array().cast("array<struct<n:int,gram:string>>")
        return F.when(k >= n, F.transform(
            F.sequence(F.lit(1), k - (n - 1)),
            lambda i: F.struct(
                F.lit(n).alias("n"),
                F.concat_ws(" ", *[F.element_at(toks, i + j)
                                   for j in range(n)]).alias("gram")),
        )).otherwise(empty)

    base = base.withColumn(
        "__grams", F.flatten(F.array(*[grams_for(n) for n in ns])))
    g = (base.select("doc_id", "__denom",
                     F.explode_outer("__grams").alias("__g"))
         .where(F.col("__g").isNotNull())
         .select("doc_id", "__denom", F.col("__g.n").alias("n"),
                 F.col("__g.gram").alias("gram")))
    c = (g.groupBy("doc_id", "__denom", "n", "gram")
         .agg(F.count(F.lit(1)).alias("cnt")))
    w = Window.partitionBy("doc_id", "n").orderBy(
        F.col("cnt").desc(), F.col("gram").asc())
    top = (c.withColumn("__rn", F.row_number().over(w))
           .where(F.col("__rn") == 1))
    gram_chars = F.col("cnt") * F.length(F.col("gram"))
    return top.select(
        "doc_id", "n", F.col("gram").alias("top_gram"),
        F.col("cnt").cast("long").alias("cnt"),
        gram_chars.cast("long").alias("gram_chars"),
        F.col("__denom").cast("long").alias("denom_chars"),
        F.when(F.col("__denom") > 0,
               gram_chars.cast("double")
               / F.col("__denom").cast("double")).alias("char_frac"))


def pack_efficiency(df: DataFrame, ctx: int = 512,
                    text_col: str = "text", doc_id: str = "doc_id",
                    shard_col: str = "source",
                    sub_shard: Column | str | None = None) -> DataFrame:
    """Per-shard packing-efficiency report over :func:`pack_token_stream`:
    how full the fixed ``ctx``-token context windows are, and how many
    docs straddle a chunk boundary (the padding-vs-splitting ledger a
    packing run is judged by).

    Plan: the shard-window cumsum and this shard agg share ONE
    hashpartitioning(shard) exchange (same key, no re-shuffle). All
    outputs exact integers except ``fill_frac`` — one exact int/int
    quotient emitted unrounded. An all-empty shard reports 0 chunks,
    0 padding, NULL fill_frac. ``sub_shard`` passes through to
    :func:`pack_token_stream` (skew defense; the ledger itself is
    invariant to sub-sharding — chunk boundaries are per-shard)."""
    if ctx <= 0:
        raise ValueError(f"ctx must be a positive token count, got {ctx}")
    packed = pack_token_stream(df, ctx=ctx, text_col=text_col,
                               doc_id=doc_id, shard_col=shard_col,
                               sub_shard=sub_shard)
    agg = packed.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.max("n_tokens").cast("long").alias("max_doc_tokens"),
        F.sum(F.when(F.col("chunk_last") > F.col("chunk_first"), 1)
              .otherwise(0)).cast("long").alias("n_straddlers"))
    n_chunks = F.expr(f"(total_tokens + {ctx - 1}) div {ctx}")
    agg = agg.withColumn("n_chunks", n_chunks.cast("long"))
    pad = F.col("n_chunks") * ctx - F.col("total_tokens")
    return agg.withColumns({
        "pad_tokens": pad.cast("long"),
        "fill_frac": F.when(
            F.col("n_chunks") > 0,
            F.col("total_tokens").cast("double")
            / (F.col("n_chunks") * ctx).cast("double")),
    })


def source_mixture(df: DataFrame, text_col: str = "text",
                   shard_col: str = "source") -> DataFrame:
    """Temperature-sampled data-mixing weights per source (the
    Pile/LLaMA-style corpus mixing op, alpha = 0.5): each source's
    sampling weight is proportional to sqrt(its token count), next to
    its natural proportion — the report a pre-training mixing run is
    configured from.

    100 TB shape: one (source) count agg over the corpus; the two
    corpus constants (total tokens, total sqrt-micro mass) ride a 1-row
    aggregate crossJoined back onto the tiny per-source table (the
    bm25 corpus-constant pattern — no Window over a single partition,
    no collect).

    Exactness: ``prop`` is an exact int/int quotient (unrounded);
    the alpha weight goes through the FLOOR micro grid INTEGERLY —
    ``sqrt_micro = floor(sqrt(n_tokens) * 1e6)`` (IEEE sqrt is
    correctly rounded, so the double is bit-identical cross-engine),
    then ``w_alpha_micro = (sqrt_micro * 1_000_000) div
    sum(sqrt_micro)`` in int64 (float division here would round
    differently per engine; int64 bounds the domain to < ~8.5e13
    tokens per source — documented precondition, cf. the variability
    family's power-sum domain)."""
    n_tok = F.coalesce(token_count(F.lower(F.col(text_col))), F.lit(0))
    per_src = (df.select(F.col(shard_col).alias("source"),
                         n_tok.cast("long").alias("__nt"))
               .groupBy("source")
               .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                    F.sum("__nt").cast("long").alias("n_tokens")))
    per_src = per_src.withColumn(
        "sqrt_micro",
        F.floor(F.sqrt(F.col("n_tokens").cast("double")) * MICRO)
        .cast("long"))
    consts = per_src.agg(
        F.sum("n_tokens").cast("long").alias("__tot_tokens"),
        F.sum("sqrt_micro").cast("long").alias("__tot_sqrt"))
    out = per_src.crossJoin(F.broadcast(consts))
    return out.select(
        "source", "n_docs", "n_tokens",
        F.when(F.col("__tot_tokens") > 0,
               F.col("n_tokens").cast("double")
               / F.col("__tot_tokens").cast("double")).alias("prop"),
        "sqrt_micro",
        F.when(F.col("__tot_sqrt") > 0,
               F.expr("(sqrt_micro * 1000000) div __tot_sqrt"))
        .cast("long").alias("w_alpha_micro"))


def _gram_bucket(gram, buckets: int):
    """Portable hashed-n-gram feature bucket: first 32 md5 bits (via
    conv, byte-identical in DuckDB as CAST('0x'||substr(md5,1,8) AS
    BIGINT)) mod ``buckets`` — the same cross-engine hash contract the
    minhash/simhash oracles pin (operators/dedup.py)."""
    return F.pmod(
        F.conv(F.substring(F.md5(gram), 1, 8), 16, 10).cast("long"),
        F.lit(buckets))


def _unigram_bigram_occurrences(df: DataFrame, text_col: str,
                                doc_id: str, buckets: int) -> DataFrame:
    """(doc_id, bucket) per unigram AND bigram occurrence — the DSIR
    feature space. One explode for both orders (the top-n-gram trick);
    the gram array is bound to a column before the explode (lambda
    re-eval + InferFiltersFromGenerate traps, CLAUDE.md)."""
    base = df.select(F.col(doc_id).alias("doc_id"),
                     words(F.lower(F.col(text_col))).alias("__toks"))
    toks = F.col("__toks")
    k = F.size(toks)
    bigrams = F.when(k >= 2, F.transform(
        F.sequence(F.lit(1), k - 1),
        lambda i: F.concat_ws(" ", F.element_at(toks, i),
                              F.element_at(toks, i + 1)),
    )).otherwise(F.array().cast("array<string>"))
    g = (base.withColumn("__grams", F.concat(toks, bigrams))
         .select("doc_id", F.explode_outer("__grams").alias("__g"))
         .where(F.col("__g").isNotNull()))
    return g.select("doc_id", _gram_bucket(F.col("__g"), buckets)
                    .alias("bucket"))


def dsir_importance(df_raw: DataFrame, df_target: DataFrame,
                    text_col: str = "text", doc_id: str = "doc_id",
                    buckets: int = 10_000) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling" — the public hashed
    n-gram recipe): score every RAW doc by how target-like its hashed
    unigram+bigram distribution is, ``log p_target/p_raw`` summed over
    its gram occurrences, with Laplace-smoothed bucket probabilities
    p[b] = (n[b]+1)/(N+B).

    100 TB shape: gram explode per side -> one count agg onto the
    FIXED-cardinality bucket space (B=10k rows regardless of corpus
    size — the whole point of hashed features) -> per-(doc,bucket)
    count agg -> broadcast the 10k-row weight table back -> doc agg.
    No pair space, no vocabulary blowup, no collect.

    Exactness: each bucket's log-ratio goes through the FLOOR micro
    grid ONCE — computed from a single ln() of one exact-integer-
    derived ratio ((nt+1)(Q+B)) / ((nq+1)(T+B)), each operand cast to
    DOUBLE individually so both engines evaluate the identical float
    expression — and the per-doc score is an INT64 sum of
    count * micro (float log-sums would be partition-order-dependent).
    Residual ln-rounding risk (ADVICE r4, accepted): unlike sqrt —
    which IEEE 754 REQUIRES to be correctly rounded, so
    ``source_mixture``'s floor(sqrt*1e6) is bit-identical cross-engine
    — ln() carries no such guarantee; JVM StrictMath (fdlibm) and
    DuckDB's platform libm may disagree by 1 ulp, flipping the FLOOR
    only when ln(ratio)*1e6 sits within ~1 ulp (~4e-10 of an integer
    for |logw| < ~1) of a grid boundary: P ~ 1e-9 per bucket per
    engine pair, the same accepted class as the fft_features band-edge
    note. A rational/exact-log spelling would need exp() on the other
    side — the same non-guaranteed-rounding problem.
    Products stay under 2^53 while occurrence totals < ~9e15/count
    (documented precondition, cf. the variability family). Every raw
    doc is listed; gram-less docs score exactly 0."""
    # Fit pass / score pass — the real DSIR deployment shape (fit the
    # 10k-row bucket model over both splits once; score raw shards
    # against the broadcast model). The totals T/Q come from an
    # explode-FREE pre-pass: a k-token doc contributes exactly
    # k + (k-1) = 2k-1 gram occurrences (k >= 1), so the corpus totals
    # are one column-pruned scan agg each — no third explode branch
    # (the naive marg.agg() spelling re-derived the whole union
    # subtree: plan-verified 10 -> 6 exchanges).
    def _occ_total(d: DataFrame, alias: str) -> DataFrame:
        k = F.coalesce(token_count(F.lower(F.col(text_col))), F.lit(0))
        per_doc = F.when(k >= 1, 2 * k - 1).otherwise(0)
        return d.agg(F.coalesce(F.sum(per_doc), F.lit(0)).cast("long")
                     .alias(alias))

    occ = (_unigram_bigram_occurrences(df_raw, text_col, doc_id, buckets)
           .withColumn("__tgt", F.lit(0))
           .unionByName(
               _unigram_bigram_occurrences(df_target, text_col, doc_id,
                                           buckets)
               .withColumn("__tgt", F.lit(1))))
    cqa = (occ.groupBy("doc_id", "bucket", "__tgt")
           .agg(F.count(F.lit(1)).alias("__c")))
    marg = cqa.groupBy("bucket").agg(
        F.sum(F.when(F.col("__tgt") == 1, F.col("__c")).otherwise(0))
        .alias("__nt"),
        F.sum(F.when(F.col("__tgt") == 0, F.col("__c")).otherwise(0))
        .alias("__nq"))
    w = (marg.where(F.col("__nq") > 0)   # only raw buckets get scored
         .crossJoin(F.broadcast(_occ_total(df_target, "__T")))
         .crossJoin(F.broadcast(_occ_total(df_raw, "__Q"))))
    ratio = ((F.col("__nt") + 1).cast("double")
             * (F.coalesce(F.col("__Q"), F.lit(0)) + buckets)
             .cast("double")
             / ((F.col("__nq") + 1).cast("double")
                * (F.coalesce(F.col("__T"), F.lit(0)) + buckets)
                .cast("double")))
    w = w.select("bucket",
                 F.floor(F.log(ratio) * F.lit(MICRO)).cast("long")
                 .alias("__lr_micro"))
    scored = (cqa.where(F.col("__tgt") == 0)
              .join(F.broadcast(w), "bucket")
              .groupBy("doc_id")
              .agg(F.sum("__c").cast("long").alias("n_grams"),
                   F.sum(F.col("__c") * F.col("__lr_micro"))
                   .cast("long").alias("dsir_logw_micro")))
    return (df_raw.select(F.col(doc_id).alias("doc_id"))
            .join(scored, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_grams", F.lit(0)).cast("long")
                    .alias("n_grams"),
                    F.coalesce("dsir_logw_micro", F.lit(0)).cast("long")
                    .alias("dsir_logw_micro")))


def sample_to_mixture(df: DataFrame, text_col: str = "text",
                      doc_id: str = "doc_id",
                      shard_col: str = "source") -> DataFrame:
    """APPLY the :func:`source_mixture` temperature weights (alpha=0.5)
    by deterministic downsampling: each source keeps a hash-stable
    fraction of its docs proportional to w_alpha/prop ∝ 1/sqrt(its
    token mass), scaled so the smallest source keeps 100% — the mT5/
    Pile rebalance realized as a filter instead of a report.

    Reproducibility contract (the hash_split property): membership is a
    pure function of doc_id — stable under repartitioning, reruns, and
    cluster size. The per-source keep rate is derived INTEGERLY on the
    micro grid (sqrt_micro from :func:`source_mixture`'s FLOOR grid;
    two int64 floor-divisions; float arithmetic would round differently
    per engine) and the doc bucket is the portable md5-prefix hash of
    the doc_id string mod 1e6 — oracle-expressible, unlike xxhash64.

    100 TB shape: the per-source rate table is tiny (one groupBy) and
    broadcast back onto the scan; the filter is scan-local — ONE
    corpus-sized agg pass + one filter pass, no doc-keyed shuffle.
    Int64 domain: sources under ~9e15 tokens (ratio_micro * 1e6
    headroom; cf. the source_mixture precondition). All-empty sources
    keep nothing (w_alpha is 0 — they contribute no token mass).
    """
    n_tok = F.coalesce(token_count(F.lower(F.col(text_col))), F.lit(0))
    per_src = (df.select(F.col(shard_col).alias("__src"),
                         n_tok.cast("long").alias("__nt"))
               .groupBy("__src")
               .agg(F.sum("__nt").cast("long").alias("__n_tokens")))
    per_src = per_src.withColumn(
        "__sqrt_micro",
        F.floor(F.sqrt(F.col("__n_tokens").cast("double")) * MICRO)
        .cast("long"))
    # keep ∝ 1/sqrt(n_s): ratio_micro = 1e6 * sqrt_micro / n_tokens
    # (∝ 1e12/sqrt(n_s)); the max over sources belongs to the SMALLEST
    # source, which therefore keeps everything
    per_src = per_src.withColumn(
        "__ratio_micro",
        F.when(F.col("__n_tokens") > 0,
               F.expr("(__sqrt_micro * 1000000) div __n_tokens"))
        .otherwise(F.lit(0)).cast("long"))
    mx = per_src.agg(F.max("__ratio_micro").alias("__max_ratio"))
    rates = (per_src.crossJoin(F.broadcast(mx))
             .select("__src",
                     F.when(F.col("__max_ratio") > 0,
                            F.expr("(__ratio_micro * 1000000)"
                                   " div __max_ratio"))
                     .otherwise(F.lit(0)).cast("long")
                     .alias("keep_micro")))
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col(doc_id).cast("string")), 1, 8),
               16, 10).cast("long"),
        F.lit(1_000_000))
    return (df.join(F.broadcast(rates),
                    df[shard_col] == F.col("__src"))
            .withColumn("sample_bucket", bucket)
            .where(F.col("sample_bucket") < F.col("keep_micro"))
            .drop("__src"))


def chunk_overlap_spans(df: DataFrame, ctx: int = 512, stride: int = 256,
                        text_col: str = "text",
                        doc_id: str = "doc_id") -> DataFrame:
    """Per-document OVERLAPPING context windows (the eval/RAG chunking
    convention, complementing :func:`pack_token_stream`'s gapless
    cross-doc stream): chunk k covers tokens [k*stride, min(k*stride +
    ctx, n)); chunks advance while the previous window hasn't reached
    the end, so n_chunks = 1 for n <= ctx else ceil((n-ctx)/stride)+1.
    Zero-token docs emit no chunk.

    Scale shape: the row-expanding U10 pattern — a bounded integer
    sequence bound to a column then explode_outer'd (both CLAUDE.md
    explode traps dodged); scan-local, zero shuffles, expansion factor
    ~n/stride per doc. All outputs exact integers."""
    if stride <= 0 or ctx <= 0 or stride > ctx:
        raise ValueError("need 0 < stride <= ctx")
    n = F.coalesce(token_count(F.lower(F.col(text_col))), F.lit(0))
    d = df.select(F.col(doc_id).alias("doc_id"),
                  n.cast("long").alias("__n"))
    k_max = F.when(
        F.col("__n") <= ctx, F.lit(0)
    ).otherwise(F.expr(f"(__n - {ctx} + {stride} - 1) div {stride}"))
    d = (d.where(F.col("__n") > 0)
         .withColumn("__ks", F.sequence(F.lit(0), k_max.cast("long"))))
    out = (d.select("doc_id", "__n",
                    F.explode_outer("__ks").alias("chunk_idx"))
           .where(F.col("chunk_idx").isNotNull()))
    start = F.col("chunk_idx") * stride
    end = F.least(start + ctx, F.col("__n"))
    return out.select(
        "doc_id", F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("__n").alias("n_tokens"),
        start.cast("long").alias("tok_start"),
        end.cast("long").alias("tok_end"),
        (end - start).cast("long").alias("n_chunk_tokens"))
