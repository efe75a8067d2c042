"""Deduplication operators for web-scale training-data pipelines: exact,
n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.

The reference has only a blacklist anti-filter (preprocess-300hz.py:93-98,
SURVEY.md P3); these are the first-class scale additions the build contract
asks for. Shapes:

- exact:        one hash-groupBy on a normalized fingerprint. One shuffle.
- ngram_jaccard: shingle -> explode -> self-equijoin on shingle -> group by
                 pair -> |∩|; |∪| from per-doc shingle counts. Classic
                 SQL-expressible near-dup (oracle-parity safe via md5-free
                 pure string shingles).
- minhash_lsh:  k=64 permutation-style hashes over shingle ints, banded into
                 b bands x r rows; candidate pairs = equijoin on
                 (band, band-signature). Avoids the O(n²) pair space; the
                 band join is the only shuffle.
- simhash:      64-bit bit-vote fingerprint per doc (Arrow kernel), near-dups
                 = hamming <= t within LSH buckets on bit-prefixes.
- embedding near-dup: see operators/similarity.py (cosine >= threshold).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ecg_feature_engineering_spark.operators.text import (
    WS_PATTERN,
    fingerprint,
)

# k affine minhash permutations h_i(x) = (a_i*x + b_i) mod p over a 31-bit
# Mersenne prime: with x, a < 2^31 the product stays < 2^62, inside int64 —
# required under Spark's default ANSI overflow checking
_MINHASH_PRIME = (1 << 31) - 1
_MINHASH_SEED = 0x5EED

# SimHash tokenization contract: an EXPLICIT ASCII whitespace class,
# identical bytes in Java regex (Spark split), RE2 (DuckDB
# string_split_regex), and Python re — bare \\s means a DIFFERENT set
# in each (Java \\s has \\x0B, RE2 \\s does not; Python str.split()
# adds Unicode whitespace), so fingerprints would silently diverge on
# exotic whitespace without the pinned class.
_WS_PATTERN = WS_PATTERN  # canonical definition: operators/text.py


def _minhash_params(k: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(_MINHASH_SEED)
    a = rng.integers(1, _MINHASH_PRIME, k, dtype=np.int64)
    b = rng.integers(0, _MINHASH_PRIME, k, dtype=np.int64)
    return a, b


def exact_dups(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups on the normalized-text fingerprint; returns
    (fingerprint, n_dups, doc_ids) for groups with n >= 2."""
    return (
        fingerprint(df, text_col)
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_dups"),
             F.sort_array(F.collect_list(id_col)).alias("doc_ids"))
        .where(F.col("n_dups") >= 2)
    )


def dedup_exact(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per normalized-text fingerprint."""
    w = Window.partitionBy("fingerprint").orderBy(id_col)
    return (
        fingerprint(df, text_col)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "fingerprint")
    )


#: Paragraph separator: a blank (whitespace-only) line. The explicit
#: ASCII class (not \s) keeps Java-regex and RE2 splits byte-identical,
#: and the [..]* core makes CRLF blank lines ("\n\r\n") separate
#: paragraphs the same as bare "\n\n".
PARA_SPLIT_PATTERN = "\\n[ \\t\\x0B\\f\\r]*\\n"

#: Outer-whitespace trim class for paragraph normalization (includes \n:
#: a paragraph keeps its INTERNAL newlines, sheds leading/trailing ones).
_PARA_TRIM_CHARS = " \t\n\x0b\x0c\r"


def paragraph_dup_stats(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Cross-document paragraph-level duplication report (the
    Gopher/Dolma dedup granularity between whole-doc `exact_dups` and
    the within-doc line/n-gram repetition ops): per doc, how many of
    its paragraphs — blank-line-separated, outer-whitespace-trimmed,
    empties dropped — also occur in at least one OTHER document, by
    count and by character mass. Within-doc self-repeats do NOT count
    (that signal is `line_repetition`/`dup_ngram_stats`); the flag is
    distinct-doc frequency >= 2.

    100 TB shape: one explode over the scan, one (md5-fingerprint)
    count-distinct agg, one equi-join of occurrences back to that thin
    (fp, n_docs_with) table, one doc-keyed agg — no pair space, no
    collect. Occurrences join on the 32-char md5, not the paragraph
    text, so the fp shuffle ships fixed-width keys (paragraphs can be
    KBs); a boilerplate paragraph shared by millions of docs is one hot
    fp GROUP (map-side partial count-distinct absorbs it), never a
    pair blowup.

    Exactness: counts/chars are exact integers; fractions are exact
    int/int quotients emitted unrounded, 0.0 (not NULL) for docs with
    no paragraphs — every doc is listed (left join back to the corpus).
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.filter(
            F.transform(F.split(t, PARA_SPLIT_PATTERN),
                        lambda x: F.btrim(x, F.lit(_PARA_TRIM_CHARS))),
            lambda x: x != "").alias("__paras"))
    # explode_outer + isNotNull, NOT plain explode: the computed-array
    # InferFiltersFromGenerate re-expansion trap (CLAUDE.md)
    occ = (base.select("doc_id", F.explode_outer("__paras").alias("__p"))
           .where(F.col("__p").isNotNull())
           .select("doc_id", F.md5("__p").alias("__fp"),
                   F.length("__p").alias("__plen")))
    freq = occ.groupBy("__fp").agg(
        F.countDistinct("doc_id").alias("__n_docs_with"))
    j = occ.join(freq, "__fp")
    dup = F.col("__n_docs_with") >= 2
    per_doc = j.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("__np"),
        F.sum(F.when(dup, 1).otherwise(0)).alias("__nd"),
        F.sum("__plen").alias("__pc"),
        F.sum(F.when(dup, F.col("__plen")).otherwise(0)).alias("__dc"))
    np_, nd = F.col("__np"), F.col("__nd")
    pc, dc = F.col("__pc"), F.col("__dc")
    return (df.select(F.col(id_col).alias("doc_id"))
            .join(per_doc, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce(np_, F.lit(0)).cast("long").alias("n_paras"),
                F.coalesce(nd, F.lit(0)).cast("long").alias("n_dup_paras"),
                F.coalesce(pc, F.lit(0)).cast("long").alias("para_chars"),
                F.coalesce(dc, F.lit(0)).cast("long")
                .alias("dup_para_chars"),
                F.when(np_ > 0, nd.cast("double") / np_.cast("double"))
                .otherwise(F.lit(0.0)).alias("dup_para_frac"),
                F.when(pc > 0, dc.cast("double") / pc.cast("double"))
                .otherwise(F.lit(0.0)).alias("dup_para_char_frac")))


def word_shingles(df: DataFrame, text_col: str = "text", n: int = 3,
                  out: str = "shingle") -> DataFrame:
    """Distinct word n-gram shingles per doc (lowercased, ws-normalized).
    Docs shorter than n words produce their full token join as one shingle.

    Two CLAUDE.md traps live here and are deliberately dodged:
    - the token array is BOUND to a column before the transform lambda
      slices it — an inline ``split`` outer expression re-evaluates per
      lambda ELEMENT, i.e. the text is re-split once per word: O(W^2)
      chars per doc (measured 3.3 s -> 0.9 s on the sf0.1 shingle stage);
    - ``explode_outer`` + notNull filter instead of plain ``explode`` —
      InferFiltersFromGenerate synthesizes ``size(arr) > 0`` under a
      non-outer Generate and re-expands the whole shingle pipeline into
      that filter (the winnow O(m^2) pushdown trap)."""
    toks = F.split(F.trim(F.regexp_replace(
        F.lower(F.col(text_col)), WS_PATTERN, " ")), " ")
    tmp = df.withColumn("__sh_toks", toks)
    tokc = F.col("__sh_toks")
    n_tok = F.size(tokc)
    idx = F.sequence(F.lit(0), F.greatest(n_tok - n, F.lit(0)))
    sh = F.transform(idx, lambda i: F.array_join(F.slice(tokc, i + 1, n), " "))
    return (tmp.withColumn(out, F.explode_outer(F.array_distinct(sh)))
            .where(F.col(out).isNotNull())
            .drop("__sh_toks"))


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.8,
                        max_shingle_df: int | None = 100) -> DataFrame:
    """Near-duplicate pairs by word-n-gram Jaccard >= threshold.

    Plan: shingle-explode -> hot-shingle cap -> self-equijoin on shingle
    (the only big shuffle; AQE skew-join splits the residue) -> per-pair
    intersection counts -> sizes joined back -> Jaccard.
    Emits (id_a, id_b, jaccard) with id_a < id_b.

    Hot-shingle cap: a shingle shared by d docs contributes O(d^2) join
    rows — one boilerplate phrase in 10^6 docs is 10^12 rows, and AQE
    spreads but cannot shrink that. Shingles with document frequency >
    ``max_shingle_df`` are dropped BEFORE the join (one cheap pre-agg);
    they carry no dedup signal (a near-universal shingle can't distinguish
    near-dups). Jaccard is then computed over the surviving "informative"
    shingles on both the intersection AND the size side, so the ratio
    stays a true Jaccard of the capped shingle sets.

    RECALL TRADE: a near-dup CLUSTER larger than the cap shares shingles
    whose df exceeds it, so such clusters become invisible to this
    operator. Intended pipeline: run ``dedup_exact`` FIRST (collapses
    identical copies, which is where >cap clusters usually come from);
    for large NEAR-identical clusters use ``minhash_lsh_pairs`` (no cap —
    its candidate blowup is quadratic in cluster size, not corpus size).
    ``max_shingle_df=None`` disables the cap for exact small-corpus
    semantics.
    """
    sh = word_shingles(df.select(id_col, text_col), text_col, n).select(
        F.col(id_col).alias("id"), "shingle")
    if max_shingle_df is not None:
        docfreq = sh.groupBy("shingle").agg(
            F.count(F.lit(1)).alias("__df"))
        sh = (sh.join(docfreq.where(F.col("__df") > max_shingle_df)
                      .select("shingle"), "shingle", "left_anti"))
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "id_a")
                   .withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b")
              .withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn("jaccard", F.col("inter")
                    / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n: int = 3,
                       k: int = 64, hash: str = "xx") -> DataFrame:
    """k-permutation MinHash signature per doc. Shingles are hashed to int64
    (JVM-side), then the k affine permutations + per-doc min run in one
    grouped aggregate — map-side partial min, single shuffle.

    ``hash``: 'xx' (xxhash64 — the fast production default) or 'md5'
    (first 32 md5 bits via conv — slower but byte-identical in DuckDB,
    enabling a full SQL oracle for the LSH pipeline)."""
    a, b = _minhash_params(k)
    sh = word_shingles(df.select(id_col, text_col), text_col, n)
    if hash == "md5":
        hx = F.md5(F.encode(F.col("shingle"), "UTF-8"))
        x = (F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
             % F.lit(_MINHASH_PRIME))
    else:
        x = F.abs(F.xxhash64("shingle")) % F.lit(_MINHASH_PRIME)
    mins = [
        F.min((x * F.lit(int(a[i])) + F.lit(int(b[i]))) % F.lit(_MINHASH_PRIME))
        .alias(f"mh{i}")
        for i in range(k)
    ]
    return sh.groupBy(id_col).agg(*mins)


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 3, k: int = 64,
                      bands: int = 16, threshold: float = 0.5,
                      hash: str = "xx") -> DataFrame:
    """MinHash+LSH near-dup candidates: band the k-sig into ``bands`` groups
    of r = k/bands rows, bucket-join on (band_idx, band_signature), then
    verify candidates with the estimated Jaccard (fraction of equal minhashes).

    This is the scale path: candidate generation never enumerates O(n²) pairs
    — only same-bucket collisions shuffle.
    """
    r = k // bands
    sig = minhash_signatures(df, text_col, id_col, n, k, hash=hash)
    band_structs = F.array(*[
        F.struct(F.lit(bi).alias("band"),
                 F.concat_ws("_", *[F.col(f"mh{bi * r + j}").cast("string")
                                    for j in range(r)]).alias("key"))
        for bi in range(bands)
    ])
    banded = (
        sig.withColumn("b", F.explode(band_structs))
        .select(F.col(id_col).alias("id"), F.col("b.band"), F.col("b.key"))
    )
    cand = (
        banded.alias("x")
        .join(banded.alias("y"),
              (F.col("x.band") == F.col("y.band"))
              & (F.col("x.key") == F.col("y.key"))
              & (F.col("x.id") < F.col("y.id")))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    # verify join carries ONE array<long> column instead of the 65-column
    # signature table (thinner shuffle x2); zip_with equality count is the
    # same estimate
    sig_arr = sig.select(
        F.col(id_col).alias("sid"),
        F.array(*[F.col(f"mh{i}") for i in range(k)]).alias("sig"))
    eq = F.aggregate(
        F.zip_with("sig_a", "sig_b",
                   lambda a, b: (a == b).cast("int")),
        F.lit(0), lambda acc, x: acc + x)
    return (
        cand.join(sig_arr.withColumnsRenamed({"sid": "id_a",
                                              "sig": "sig_a"}), "id_a")
        .join(sig_arr.withColumnsRenamed({"sid": "id_b",
                                          "sig": "sig_b"}), "id_b")
        .select("id_a", "id_b", (eq / F.lit(k)).alias("jaccard_est"))
        .where(F.col("jaccard_est") >= threshold)
    )


def simhash64(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per doc (Arrow kernel): md5-derived 64-bit hash per
    token, per-bit +1/-1 vote weighted by token frequency, sign -> bit.
    Tokenization uses the engine's explicit ASCII-whitespace class
    (_WS_PATTERN) so the kernel, the JVM relational twin, and the DuckDB
    oracle split identically (Java \\s, RE2 \\s, and Python str.split
    each cover DIFFERENT whitespace sets)."""
    import hashlib
    import re

    ws = re.compile(_WS_PATTERN)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out = []
            for did, text in zip(batch[id_col], batch[text_col]):
                if text is None or (isinstance(text, float)
                                    and pd.isna(text)):
                    # null text -> zero votes -> fingerprint 0, matching
                    # simhash64_relational and the DuckDB oracle (str(None)
                    # would tokenize as the word 'none' — ADVICE r2)
                    out.append({id_col: did, "simhash": 0})
                    continue
                toks = [t for t in ws.split(str(text).lower()) if t]
                votes = np.zeros(64, dtype=np.int64)
                for t in toks:
                    hv = np.uint64(int.from_bytes(
                        hashlib.md5(t.encode()).digest()[:8], "big"))
                    bits = ((hv >> np.arange(64, dtype=np.uint64))
                            & np.uint64(1)).astype(np.int64)
                    votes += 2 * bits - 1
                sh = int(((votes > 0).astype(np.uint64)
                          << np.arange(64, dtype=np.uint64)).sum())
                if sh >= 1 << 63:
                    sh -= 1 << 64
                out.append({id_col: did, "simhash": sh})
            yield pd.DataFrame(out, columns=[id_col, "simhash"])

    id_type = dict(zip(df.schema.names,
                       (f.dataType.simpleString() for f in df.schema.fields)))[id_col]
    return df.select(id_col, text_col).mapInPandas(
        run, schema=f"{id_col} {id_type}, simhash long")


def simhash64_relational(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """JVM-side SimHash — the scale path (the ``simhash64`` Arrow kernel
    is a per-token Python loop and stays as the test oracle; a pytest
    asserts kernel == relational fingerprints).

    Same definition as the kernel: md5-derived 64-bit token hash,
    frequency-weighted ±1 votes per bit, sign → bit. Expressed fully
    relationally: explode tokens, md5 → two 32-bit halves via conv
    (each < 2^32, long-safe under ANSI), then ONE grouped aggregate with
    64 conditional sums (map-side partial agg — one shuffle on the id).
    Empty docs (no tokens) get fingerprint 0 like the kernel, via the
    left join back to the doc list."""
    import functools

    toks = (
        df.select(id_col, text_col)
        .withColumn("tok", F.explode(
            F.split(F.lower(F.col(text_col)), _WS_PATTERN)))
        .where(F.length("tok") > 0)
    )
    hx = F.md5(F.encode(F.col("tok"), "UTF-8"))
    toks = toks.select(
        id_col,
        F.conv(F.substring(hx, 1, 8), 16, 10).cast("long").alias("hi"),
        F.conv(F.substring(hx, 9, 8), 16, 10).cast("long").alias("lo"),
    )

    def bit(i: int):
        src = F.col("hi") if i >= 32 else F.col("lo")
        return F.shiftright(src, i - 32 if i >= 32 else i).bitwiseAND(
            F.lit(1))

    votes = toks.groupBy(id_col).agg(*[
        F.sum(F.when(bit(i) == 1, 1).otherwise(-1)).alias(f"v{i}")
        for i in range(64)
    ])
    fp = functools.reduce(lambda a, b: a.bitwiseOR(b), [
        F.shiftleft(
            F.when(F.col(f"v{i}") > 0, F.lit(1)).otherwise(F.lit(0))
            .cast("long"), i)
        for i in range(64)
    ])
    sig = votes.select(id_col, fp.alias("simhash"))
    return (
        df.select(id_col).join(sig, id_col, "left")
        .select(id_col, F.coalesce("simhash", F.lit(0)).alias("simhash"))
    )


def simhash_near_dups(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", max_hamming: int = 3
                      ) -> DataFrame:
    """SimHash near-dups: bucket on 16-bit prefixes (4 rotations so any pair
    within hamming<=3 shares at least one exact 16-bit block — pigeonhole),
    then verify hamming distance JVM-side with bit_count(xor). The
    fingerprints are ``simhash64_relational`` (JVM bit votes)."""
    sig = simhash64_relational(df, text_col, id_col)
    blocks = F.array(*[
        F.struct(F.lit(i).alias("blk"),
                 F.shiftrightunsigned(F.col("simhash"), 16 * i)
                 .bitwiseAND(F.lit(0xFFFF)).alias("key"))
        for i in range(4)
    ])
    bucketed = (sig.withColumn("b", F.explode(blocks))
                .select(F.col(id_col).alias("id"), "simhash",
                        F.col("b.blk"), F.col("b.key")))
    cand = (
        bucketed.alias("x")
        .join(bucketed.alias("y"),
              (F.col("x.blk") == F.col("y.blk"))
              & (F.col("x.key") == F.col("y.key"))
              & (F.col("x.id") < F.col("y.id")))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"),
                F.bit_count(F.col("x.simhash").bitwiseXOR(F.col("y.simhash")))
                .alias("hamming"))
        .distinct()
    )
    return cand.where(F.col("hamming") <= max_hamming)


def connected_components(pairs: DataFrame, src: str = "id_a",
                         dst: str = "id_b", id_out: str = "doc_id",
                         label_out: str = "component",
                         max_iter: int = 50) -> DataFrame:
    """Connected components over a near-dup pair graph: every vertex gets
    the MINIMUM vertex id reachable from it as its component label — the
    step that turns pairwise near-dup output (minhash_lsh_pairs /
    ngram_jaccard_pairs / simhash_near_dups) into transitive duplicate
    CLUSTERS a dedup pipeline can act on. Only vertices that appear in
    ``pairs`` are emitted (singletons have no pair rows to cluster).

    Algorithm: hash-min label propagation — per round, each vertex takes
    min(own label, min(neighbor labels)); one groupBy shuffle + one join
    per round, converging in O(graph diameter) rounds. Dup clusters are
    near-cliques out of LSH banding (diameter almost always <= 2-3), so
    this beats the O(log n)-round large-star/small-star alternation in
    practice while shuffling strictly less per round; for adversarially
    long path graphs ``max_iter`` bounds the work and a RuntimeError
    reports non-convergence rather than returning a wrong answer.

    This is an iterative job, NOT a single lazy plan: each round eagerly
    localCheckpoints the new label table, which BOTH materializes it and
    truncates its lineage — without truncation the returned plan would
    chain every round's join (O(rounds) deep, re-optimized on every
    downstream action), and a plain persist would leak a cache entry the
    caller never releases. localCheckpoint blocks live in executor
    storage: on executor loss the job must rerun (fine in local mode; on
    a long-lived cluster set a reliable ``spark.sparkContext
    .setCheckpointDir`` and swap in ``checkpoint()``). The per-round
    driver scalar is one count (convergence check), not a data collect.
    """
    edges = pairs.select(F.col(src).alias("__u"), F.col(dst).alias("__v"))
    edges = (edges.unionByName(
        edges.select(F.col("__v").alias("__u"), F.col("__u").alias("__v")))
        .where(F.col("__u").isNotNull() & F.col("__v").isNotNull())
        .distinct())
    edges = edges.persist()
    labels = (edges.select("__u").distinct()
              .withColumn("__label", F.col("__u"))
              .localCheckpoint(eager=True))
    converged = False
    for _ in range(max_iter):
        nbr_min = (edges.join(labels, "__u")
                   .groupBy(F.col("__v").alias("__u"))
                   .agg(F.min("__label").alias("__nbr")))
        # new = least(old, nbr) <= old, so "changed" is exactly nbr < old —
        # derived inline; the convergence count then reads the already-
        # materialized checkpoint instead of re-joining old vs new labels
        # (one fewer join+shuffle per round)
        stepped = (labels.join(nbr_min, "__u")
                   .select("__u",
                           F.least("__label", "__nbr").alias("__label"),
                           (F.col("__nbr") < F.col("__label"))
                           .alias("__changed"))
                   .localCheckpoint(eager=True))
        changed = stepped.where("__changed").count()
        labels = stepped.drop("__changed")
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(graph diameter exceeds max_iter — raise it)")
    return labels.select(F.col("__u").alias(id_out),
                         F.col("__label").alias(label_out))


def drop_near_dups(df: DataFrame, pairs: DataFrame,
                   id_col: str = "doc_id") -> DataFrame:
    """Near-dup dedup sink: keep one canonical row per duplicate cluster
    (the minimum id — deterministic) plus every row that is in no cluster.
    One anti-join against the non-canonical member set; ``pairs`` is any
    near-dup pair output (see ``connected_components``)."""
    comp = connected_components(pairs, id_out=id_col)
    losers = comp.where(F.col(id_col) != F.col("component")).select(id_col)
    return df.join(losers, id_col, "left_anti")
