"""Text-analysis operators over the ``documents`` table: token counting,
quality scoring, language-ID heuristic, document fingerprinting.

These are the caption/metadata analogs of the reference's string projections
(SURVEY.md §2.8 F1-F7: substring/strip/split parsing of header comments,
extract_HRV.py:37-49) widened to the operations a web-scale training-data
pipeline needs. Everything is built-in `pyspark.sql.functions` — JVM-side,
whole-stage codegen, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ecg_feature_engineering_spark.operators.sqltext import ident, lit

# Tokenization contract: one EXPLICIT ASCII whitespace class, identical
# bytes in Java regex (Spark split), RE2 (DuckDB oracles), and Python
# re — bare \\s means a DIFFERENT set in each (Java \\s has \\x0B, RE2
# \\s does not), so engine-vs-oracle token counts would silently
# diverge on exotic whitespace.
WS_PATTERN = "[ \\t\\n\\x0B\\f\\r]+"

STOPWORDS_EN = ("the", "and", "of", "to", "a", "in", "is", "it", "for", "on")
_LANG_MARKERS = {
    "en": ("the", "and", "of", "is"),
    "es": ("el", "la", "de", "que"),
    "fr": ("le", "les", "et", "une"),
    "de": ("der", "die", "und", "ist"),
}


def words(text: Column) -> Column:
    """Whitespace tokenization; empty/blank text -> empty array (not ['']).
    Split-then-filter, NOT trim-then-split: F.trim strips only ASCII
    spaces, so tab/newline-padded text would produce phantom empty tokens
    (and the blank guard would miss a bare tab)."""
    return F.filter(F.split(text, WS_PATTERN), lambda x: x != "")


def token_count(text: Column) -> Column:
    return F.size(words(text))


def with_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens + a BPE-ish subword estimate (~chars/4, the public
    rule-of-thumb) + character count."""
    t = F.col(text_col)
    return df.withColumns({
        "n_tokens_ws": token_count(t),
        "n_tokens_bpe_est": F.ceil(F.length(t) / F.lit(4.0)).cast("long"),
        "n_chars_computed": F.length(t),
    })


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-scoring signals: length, word count, mean word length,
    punctuation ratio, stopword ratio, uppercase ratio, digit ratio,
    appended to ``df``. All closed-form column expressions (oracle-parity
    safe), sent as the SQL text of one ``selectExpr`` (operators/
    sqltext.py); ``words`` is the tokenizer they spell."""
    t = ident(text_col)
    n_chars = f"length({t})"
    ws = f"filter(split({t}, {lit(WS_PATTERN)}), w -> w != '')"

    def n_removed(pattern: str) -> str:
        return f"{n_chars} - length(regexp_replace({t}, {lit(pattern)}, ''))"

    def nz(num: str, den: str) -> str:
        return (f"CASE WHEN {den} > 0 THEN CAST({num} AS DOUBLE) / {den} "
                f"ELSE 0D END")

    stop = ", ".join(map(lit, STOPWORDS_EN))
    cols = {
        "n_chars_q": f"CAST({n_chars} AS BIGINT)",
        "n_words": f"CAST(size({ws}) AS BIGINT)",
        # true mean token length (the old n_chars-(n_words-1) form
        # assumed exactly one separator char between words — wrong
        # for whitespace runs/padding, which the tokenizer collapses)
        "mean_word_len": nz(
            f"aggregate(transform({ws}, x -> length(x)), 0, "
            f"(acc, v) -> acc + v)", f"size({ws})"),
        "punct_ratio": nz(n_removed("[.,!?;:]"), n_chars),
        "stopword_ratio": nz(f"size(filter({ws}, x -> x IN ({stop})))",
                             f"size({ws})"),
        "upper_ratio": nz(n_removed("[A-Z]"), n_chars),
        "digit_ratio": nz(n_removed("[0-9]"), n_chars),
    }
    return df.selectExpr("*", *[f"{e} AS {n}" for n, e in cols.items()])


def langid_heuristic(df: DataFrame, text_col: str = "text",
                     out: str = "lang_pred") -> DataFrame:
    """Marker-stopword language ID: count per-language marker words, argmax
    with deterministic tie-break on language code order. An n-gram heuristic,
    not a model — the point is the distributed shape (scan-local, no shuffle).
    """
    ws = words(F.lower(F.col(text_col)))

    def marker_count(markers: tuple[str, ...]) -> Column:
        # single-arg lambda: PySpark inspects arity, so the marker list must
        # be closed over, not passed as a defaulted second parameter
        return F.size(F.filter(ws, lambda x: x.isin(*markers)))

    scores = {lang: marker_count(markers)
              for lang, markers in _LANG_MARKERS.items()}
    langs = sorted(_LANG_MARKERS)
    # deterministic argmax: max over (score, -lang_index) struct tuples
    arr = F.array(*[
        F.struct(scores[lang].alias("s"),
                 F.lit(-i).alias("prio"),
                 F.lit(lang).alias("lang"))
        for i, lang in enumerate(langs)
    ])
    top = F.array_max(arr)
    pred = F.when(top["s"] > 0, top["lang"]).otherwise(F.lit("und"))
    return df.withColumn(out, pred)


# Portable PII patterns: explicit character classes only — bare \S / \b
# differ between Java regex (Spark) and RE2 (DuckDB), so scrub counts
# would silently diverge on exotic input. {2,} quantifiers and
# alternation behave identically (leftmost-longest per alternative arm
# is NOT assumed: both engines are leftmost-first here and the arms are
# prefix-disjoint).
EMAIL_PATTERN = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
URL_PATTERN = "https?://[A-Za-z0-9./_%-]+"


def gopher_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style document quality signals (Rae et al. 2021, public
    filter rules): word-count bounds, mean word length bounds,
    symbol-to-word ratio ('#' and '...'), fraction of words containing
    an ASCII letter, and a distinct-stopword floor — composed into one
    ``passes_gopher`` flag. All closed-form JVM expressions; thresholds
    compare int-ratio doubles, deterministic across engines."""
    t = F.col(text_col)
    # Materialize the split + lowered word arrays as COLUMNS before any
    # higher-order lambda references them: outer expressions re-evaluate
    # once per lambda ELEMENT (the dup_ngram 406s->3s trap, CLAUDE.md) —
    # an inline `words(t)` under the 10-entry stoplist filter below would
    # re-split and re-lower the whole document ~10x per row (ADVICE r3).
    tmp = df.withColumn("__gq_ws", words(t))
    tmp = tmp.withColumn("__gq_wsl",
                         F.transform(F.col("__gq_ws"), lambda x: F.lower(x)))
    ws = F.col("__gq_ws")
    ws_lower = F.col("__gq_wsl")
    n_words = F.size(ws)
    wl_sum = F.aggregate(F.transform(ws, lambda x: F.length(x)),
                         F.lit(0), lambda acc, v: acc + v)
    mean_wl = F.when(n_words > 0,
                     wl_sum.cast("double") / n_words).otherwise(F.lit(0.0))
    n_symbol = F.size(F.regexp_extract_all(t, F.lit(r"#|\.\.\."), F.lit(0)))
    sym_ratio = F.when(n_words > 0,
                       n_symbol.cast("double") / n_words).otherwise(F.lit(0.0))
    n_alpha_words = F.size(F.filter(ws, lambda x: x.rlike("[A-Za-z]")))
    alpha_frac = F.when(n_words > 0, n_alpha_words.cast("double") / n_words) \
                  .otherwise(F.lit(0.0))
    # distinct-stopword count as containment over the fixed stoplist —
    # NOT array_intersect: intersect's dedup semantics are an engine
    # detail, containment over a 10-element literal list is not
    n_stop_distinct = F.size(F.filter(
        F.array(*[F.lit(s) for s in STOPWORDS_EN]),
        lambda s: F.array_contains(ws_lower, s)))
    passes = (
        (n_words >= 3) & (n_words <= 100_000)
        & (mean_wl >= 3.0) & (mean_wl <= 10.0)
        & (sym_ratio <= 0.1)
        & (alpha_frac >= 0.8)
        & (n_stop_distinct >= 2)
    )
    return tmp.withColumns({
        "n_words_g": n_words.cast("long"),
        "mean_word_len_g": mean_wl,
        "symbol_word_ratio": sym_ratio,
        "alpha_word_frac": alpha_frac,
        "n_stop_distinct": n_stop_distinct.cast("long"),
        # null text -> every signal is NULL -> passes must be NULL-safe
        # false (a doc with no text never passes the filter)
        "passes_gopher": F.coalesce(passes, F.lit(False)),
    }).drop("__gq_ws", "__gq_wsl")


def pii_scrub(df: DataFrame, text_col: str = "text",
              token: str = "<PII>") -> DataFrame:
    """PII scrubbing (C4-style public cleanup rule): count + redact
    emails and URLs, emit the scrubbed text's md5 fingerprint so a
    cross-engine pipeline can verify the redaction byte-for-byte without
    shipping the text."""
    t = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(t, F.lit(EMAIL_PATTERN), F.lit(0)))
    n_urls = F.size(F.regexp_extract_all(t, F.lit(URL_PATTERN), F.lit(0)))
    # URLs first: an email pattern can match inside a URL's userinfo but
    # not vice versa, so scrub the longer construct before the shorter
    scrubbed = F.regexp_replace(
        F.regexp_replace(t, URL_PATTERN, token), EMAIL_PATTERN, token)
    return df.withColumns({
        "n_emails": n_emails.cast("long"),
        "n_urls": n_urls.cast("long"),
        "scrubbed_fingerprint": F.md5(scrubbed),
    })


def dup_ngram_stats(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Duplicate word-n-gram character fraction (RefinedWeb / Gopher
    repetition signal): the fraction of n-gram characters that belong to
    n-grams occurring >= 2 times within the document.

    Distributed shape: SCAN-LOCAL — repetition is a within-document
    quantity, so the whole computation is higher-order array expressions
    on the row (sort the gram array, a gram occurrence is duplicated iff
    it equals a sorted neighbor): zero shuffles, zero joins, zero
    Python, survives any scale the scan survives. The explode -> (doc,
    gram) aggregate shape is only needed for CROSS-document n-gram
    analyses.

    Each intermediate array is MATERIALIZED as a column before any
    lambda references it. Referencing the building expression directly
    inside transform/aggregate lambdas re-evaluates it PER ELEMENT
    (measured: the inlined form re-split + re-sorted per index —
    O(m^2 log m) per doc, 406 s for 500 docs vs ~3 s materialized).
    CollapseProject keeps these projections apart because each array is
    a non-cheap expression consumed more than once downstream."""
    t = F.lower(F.col(text_col))
    step = df.withColumn("__ws", words(t))
    k = F.size("__ws")
    ws = F.col("__ws")
    step = step.withColumn(
        "__grams",
        F.when(k >= n, F.transform(
            F.sequence(F.lit(1), k - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(ws, i + j) for j in range(n)])
        )).otherwise(F.array().cast("array<string>")))
    step = step.withColumn("__sg", F.array_sort("__grams"))
    sg = F.col("__sg")
    m = F.size(sg)
    # occurrence i (1-based) is part of a duplicate group iff it equals
    # the previous or next element of the sorted gram array.
    # Neighbor probes go through lazy CASE WHEN, not a bare & — & does
    # NOT short-circuit, and element_at/try_element_at both THROW on
    # index 0 (probed: INVALID_INDEX_OF_ZERO), so `(i>1) &
    # element_at(sg, i-1)...` would abort on every doc's first gram.
    # An unmatched CASE yields NULL; NULL == x is NULL; the outer WHEN
    # treats NULL as no-match -> 0 chars, which is the right answer at
    # both array ends. The m>0 guard keeps sequence(1,0) (which would
    # run DESCENDING) from ever being built for gram-less docs.
    dup_chars = F.when(m > 0, F.aggregate(
        F.sequence(F.lit(1), m),
        F.lit(0),
        lambda acc, i: acc + F.when(
            (F.element_at(sg, i)
             == F.when(i > 1, F.element_at(sg, i - 1)))
            | (F.element_at(sg, i)
               == F.when(i < m, F.element_at(sg, i + 1))),
            F.length(F.element_at(sg, i))).otherwise(F.lit(0)),
    )).otherwise(F.lit(0))
    tot_chars = F.aggregate(
        sg, F.lit(0), lambda acc, g: acc + F.length(g))
    step = step.withColumns({"__dup": dup_chars, "__tot": tot_chars})
    frac = F.when(F.col("__tot") > 0,
                  F.col("__dup").cast("double") / F.col("__tot")) \
            .otherwise(F.lit(0.0))
    return (step.withColumns({
                "n_grams": m.cast("long"),
                "dup_ngram_char_frac": frac,
            }).drop("__ws", "__grams", "__sg", "__dup", "__tot"))


#: ASCII whitespace minus the line separator itself — per-line btrim set
#: for line_repetition_stats (CRLF corpora leave a trailing \r on every
#: split line; a raw compare would then never find a duplicate).
_LINE_TRIM_CHARS = " \t\x0b\x0c\r"


def line_repetition_stats(df: DataFrame,
                          text_col: str = "text") -> DataFrame:
    """Duplicate-line fraction + duplicate-line character fraction
    (the Gopher repetition signals at LINE granularity — the n-gram
    granularity lives in :func:`dup_ngram_stats`).

    A line is a ``\\n``-separated segment, btrimmed of the remaining
    ASCII whitespace (so CRLF and space-padded twins compare equal),
    empties dropped. An occurrence is "duplicate" if its line text
    already occurred earlier in the doc — so ``n_dup_lines =
    n_lines - n_uniq_lines`` and ``dup_line_chars = line_chars -
    uniq_line_chars`` (each distinct line's first occurrence is the
    original; char counts weight long boilerplate lines the way the
    published filter intends).

    Distributed shape: SCAN-LOCAL like dup_ngram_stats — repetition is a
    within-document quantity; zero shuffles/joins/Python. Every array is
    materialized as a column before a lambda touches it (CLAUDE.md
    per-element re-eval trap). Fractions are exact int/int quotients
    emitted unrounded (bit-identical cross-engine). NULL text behaves as
    empty (0 lines; a line-repetition report lists every doc)."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    step = df.withColumn(
        "__ln",
        F.filter(F.transform(F.split(t, "\n"),
                             lambda x: F.btrim(x, F.lit(_LINE_TRIM_CHARS))),
                 lambda x: x != ""))
    step = step.withColumn("__lnd", F.array_distinct(F.col("__ln")))
    ln, lnd = F.col("__ln"), F.col("__lnd")
    chars = F.aggregate(ln, F.lit(0), lambda acc, x: acc + F.length(x))
    chars_u = F.aggregate(lnd, F.lit(0), lambda acc, x: acc + F.length(x))
    step = step.withColumns({"__lc": chars, "__lcu": chars_u})
    n_lines = F.size(ln)
    n_uniq = F.size(lnd)
    lc, lcu = F.col("__lc"), F.col("__lcu")
    return (step.withColumns({
        "n_lines": n_lines.cast("long"),
        "n_uniq_lines": n_uniq.cast("long"),
        "n_dup_lines": (n_lines - n_uniq).cast("long"),
        "dup_line_frac": F.when(
            n_lines > 0,
            (n_lines - n_uniq).cast("double") / n_lines.cast("double"))
            .otherwise(F.lit(0.0)),
        "line_chars": lc.cast("long"),
        "dup_line_chars": (lc - lcu).cast("long"),
        "dup_line_char_frac": F.when(
            lc > 0, (lc - lcu).cast("double") / lc.cast("double"))
            .otherwise(F.lit(0.0)),
    }).drop("__ln", "__lnd", "__lc", "__lcu"))


def winnow_selected(df: DataFrame, text_col: str = "text",
                    k: int = 5, w: int = 4,
                    out: str = "winnow_sel") -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every char k-gram of the
    whitespace-normalized lowercase text, then keep the minimum hash of
    every window of ``w`` consecutive k-grams. The selected-hash SET is
    position-robust: any shared substring of length >= k + w - 1 between
    two documents is guaranteed to contribute at least one common
    selected hash.

    Spec note: this is the VALUE-SET variant — each window contributes
    ``array_min`` of its hashes and the per-document fingerprint is the
    distinct set of those minima (the classic positional tie-break only
    decides WHICH occurrence is recorded; the value set is identical
    whenever window minima are unique, and is the deterministic
    cross-engine quantity).

    Distributed shape: SCAN-LOCAL — normalization, k-gram extraction,
    hashing (md5 -> 60-bit int, engine-portable unlike xxhash64) and the
    sliding window min are all higher-order array expressions on the
    row. Zero shuffles, zero Python; survives any scale the scan does.
    Each intermediate array is MATERIALIZED as a column before a lambda
    touches it (inlined outer expressions re-evaluate PER ELEMENT —
    the dup_ngram 406s->3s lesson).

    Docs with fewer than ``w`` k-grams (but >= 1) degenerate to the
    single global min; gram-less docs (len < k, incl. NULL text) get an
    empty fingerprint.
    """
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)),
                                   WS_PATTERN, " "))
    step = df.withColumn("__wn", norm)
    ln = F.length("__wn")
    step = step.withColumn(
        "__wg",
        F.when(ln >= k, F.transform(
            F.sequence(F.lit(1), ln - (k - 1)),
            lambda i: F.col("__wn").substr(i, F.lit(k))))
        .otherwise(F.array().cast("array<string>")))
    step = step.withColumn(
        "__wh",
        F.transform("__wg", lambda g: F.conv(
            F.substring(F.md5(F.encode(g, "UTF-8")), 1, 15), 16, 10)
            .cast("long")))
    h = F.col("__wh")
    m = F.size(h)
    sel = (
        F.when(m >= w, F.array_distinct(F.transform(
            F.sequence(F.lit(1), m - (w - 1)),
            lambda j: F.array_min(F.slice(h, j, w)))))
        .when(m > 0, F.array(F.array_min(h)))
        .otherwise(F.array().cast("array<long>")))
    return (step.withColumns({"n_kgrams": m.cast("long"), out: sel})
                .drop("__wn", "__wg", "__wh"))


def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        k: int = 5, w: int = 4) -> DataFrame:
    """Per-document winnowing digest: k-gram count, selected-set size,
    order-independent modular checksum of the selected hashes, and the
    selection density (~2/(w+1) expected for long docs).

    Checksum domain: each hash is reduced mod 1e9+7 BEFORE summing, so
    the sum stays far under int64 even for million-gram documents
    (raw 60-bit hashes would overflow ANSI int64 after ~15 terms)."""
    step = winnow_selected(df, text_col, k=k, w=w, out="__wsel")
    sel = F.col("__wsel")
    checksum = F.aggregate(
        sel, F.lit(0).cast("long"),
        lambda acc, x: acc + F.pmod(x, F.lit(1_000_000_007)))
    n_sel = F.size(sel).cast("long")
    return (step.withColumns({
                "n_selected": n_sel,
                "winnow_checksum": checksum,
                # exact int/int quotient: emit UNROUNDED, the division is
                # bit-identical cross-engine (CLAUDE.md decimal-grid rule)
                "winnow_density": F.try_divide(n_sel, F.col("n_kgrams")),
            }).drop("__wsel"))


def winnow_match_pairs(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", k: int = 12, w: int = 4,
                       min_shared: int = 3, df_cap: int = 100) -> DataFrame:
    """MOSS-style containment detection: document pairs sharing >=
    ``min_shared`` selected winnowing hashes.

    ``k`` is the NOISE THRESHOLD (SIGMOD'03 §2): matches shorter than k
    chars are noise and must not fire. The default k=12 (vs the
    fingerprint digest's k=5) keeps natural-language k-grams
    discriminative — at k=5 common English grams carry document
    frequencies near the corpus size, and the posting-list self-join
    degenerates toward sum(df^2) ~ O(|D|^2) per gram (measured: minutes
    vs seconds on a 500-doc corpus).

    Distributed shape: explode the per-doc fingerprint to (hash, id)
    posting lists, drop hashes appearing in > ``df_cap`` documents (the
    hot-shingle cap from ngram_jaccard_pairs — boilerplate k-grams would
    otherwise quadratically blow up the self-join; recall trade for
    >cap clusters is the same documented one), then a hash-equi
    self-join and a pair-count aggregate. No all-pairs scan; candidate
    space is bounded by sum(df^2) over surviving posting lists."""
    # explode_OUTER, not explode — a Spark 4 optimizer trap (measured:
    # 3 s -> stuck-for-minutes on 500 x 550-char docs, plan-verified):
    # InferFiltersFromGenerate synthesizes `size(arr) > 0` under a
    # non-outer Generate, PushDownPredicates then substitutes the whole
    # winnow pipeline into that predicate on its way to the scan, and
    # the substituted form re-expands "__wh" once per reference — the
    # slice lambda re-hashes the m-gram array PER WINDOW, O(m^2) md5s
    # per row. The rule skips outer generates; the explicit null filter
    # on the GENERATOR OUTPUT replaces it and cannot be pushed below
    # the Generate. (A repartition barrier does NOT help: the inferred
    # filter pushes straight through RepartitionByExpression.)
    sel = (winnow_selected(df, text_col, k=k, w=w, out="__wsel")
           .select(F.col(id_col).alias("id"),
                   F.explode_outer("__wsel").alias("whash"))
           .where(F.col("whash").isNotNull()))
    hot = (sel.groupBy("whash").agg(F.count(F.lit(1)).alias("__df"))
              .where(F.col("__df") > df_cap).select("whash"))
    cold = sel.join(F.broadcast(hot), "whash", "left_anti")
    a, b = cold.alias("a"), cold.alias("b")
    pairs = (a.join(b, (F.col("a.whash") == F.col("b.whash"))
                    & (F.col("a.id") < F.col("b.id")))
              .groupBy(F.col("a.id").alias("id_a"),
                       F.col("b.id").alias("id_b"))
              .agg(F.count(F.lit(1)).alias("n_shared")))
    return pairs.where(F.col("n_shared") >= min_shared)


def fingerprint(df: DataFrame, text_col: str = "text",
                out: str = "fingerprint") -> DataFrame:
    """Document fingerprint: md5 of the whitespace-normalized lowercase text.
    md5 is engine-portable (same string in Spark and DuckDB) — unlike
    xxhash64 — so fingerprints survive cross-engine pipelines."""
    # normalize FIRST, trim second: trim only strips ASCII spaces, so a
    # tab-padded doc would otherwise fingerprint differently from its
    # space-padded twin
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)),
                                   WS_PATTERN, " "))
    return df.withColumn(out, F.md5(norm))


#: Host part of a URL_PATTERN match (subset char class: stops at the
#: first /, _ or % — explicit ASCII, identical in Java regex and RE2).
DOMAIN_PATTERN = "https?://([A-Za-z0-9.-]+)"


def domain_mix(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Per-domain URL mix over the corpus (the web-pipeline report a
    domain blocklist / crawl-rebalance run is configured from): for
    every lowercased URL host appearing in the text, the number of
    URL occurrences and of distinct documents mentioning it, plus its
    share of all URL occurrences.

    100 TB shape: extraction is scan-local; one explode + one (domain)
    count agg; the corpus total rides a 1-row broadcast back (the
    source_mixture constant pattern). The URL array is bound to a
    column before the explode (explode_outer + isNotNull — the
    InferFiltersFromGenerate trap, CLAUDE.md). ``url_share`` is one
    exact int/int quotient emitted unrounded; URLs whose post-scheme
    text starts outside the host class (e.g. ``http:///``) extract an
    empty host and are dropped on BOTH engines."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.regexp_extract_all(t, F.lit(URL_PATTERN), F.lit(0))
        .alias("__urls"))
    occ = (base.select("doc_id", F.explode_outer("__urls").alias("__u"))
           .where(F.col("__u").isNotNull())
           .select("doc_id",
                   F.lower(F.regexp_extract("__u", DOMAIN_PATTERN, 1))
                   .alias("domain"))
           .where(F.col("domain") != ""))
    agg = occ.groupBy("domain").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_urls"))
    tot = agg.agg(F.sum("n_urls").cast("long").alias("__tot"))
    return (agg.crossJoin(F.broadcast(tot))
            .select("domain", "n_docs", "n_urls",
                    (F.col("n_urls").cast("double")
                     / F.col("__tot").cast("double")).alias("url_share")))


def c4_line_dedup(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id",
                  min_docs: int = 3) -> DataFrame:
    """C4-style cross-corpus duplicate-line REMOVAL (Raffel et al. 2020
    §2.2 public rule, line granularity): delete every line that occurs
    in >= ``min_docs`` distinct documents (boilerplate — cookie
    banners, nav text), and emit the cleaned document's fingerprint
    plus the removal ledger. Completes the dedup ladder: within-doc
    line stats (`line_repetition_stats`) -> cross-doc paragraph stats
    (`paragraph_dup_stats`) -> cross-doc line REMOVAL (this op, the one
    that rewrites the text).

    Lines are \\n-segments btrimmed of remaining ASCII whitespace
    (CRLF/space-padded twins match), empties dropped; the cleaned text
    is the kept lines re-joined with \\n in ORIGINAL order, emitted as
    an md5 fingerprint (cross-engine checkable without shipping text;
    a doc with nothing kept fingerprints the empty string).

    100 TB shape: occurrences carry (doc, idx, md5-fp) — fixed-width
    keys through the frequency join, never the line text... except the
    kept line text itself, which must survive to reconstruction; the
    frequency table is thin (fp, n_docs_with) and broadcast-eligible.
    One fp count-distinct agg, one equi-join, one doc-keyed rebuild
    agg. Hot boilerplate lines are agg GROUPS, never a pair space.
    Exactness: counts exact ints; reconstruction order is the exact
    integer line index."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.filter(
            F.transform(F.split(t, "\n"),
                        lambda x: F.btrim(x, F.lit(_LINE_TRIM_CHARS))),
            lambda x: x != "").alias("__lines"))
    occ = (base.select(
        "doc_id", F.posexplode_outer("__lines").alias("idx", "line"))
        .where(F.col("line").isNotNull())
        .withColumn("__fp", F.md5("line")))
    freq = occ.groupBy("__fp").agg(
        F.countDistinct("doc_id").alias("__n_docs_with"))
    j = occ.join(freq, "__fp")
    keep = F.col("__n_docs_with") < min_docs
    rebuilt = (j.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("__nl"),
        F.sum(F.when(~keep, 1).otherwise(0)).alias("__nr"),
        F.sum(F.when(keep, F.length("line")).otherwise(0)).alias("__kc"),
        F.array_sort(F.collect_list(
            F.when(keep, F.struct("idx", "line")))).alias("__kept")))
    cleaned = F.array_join(
        F.transform(F.col("__kept"), lambda s: s["line"]), "\n")
    nl, nr = F.col("__nl"), F.col("__nr")
    return (df.select(F.col(id_col).alias("doc_id"))
            .join(rebuilt, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce(nl, F.lit(0)).cast("long").alias("n_lines"),
                F.coalesce(nr, F.lit(0)).cast("long")
                .alias("n_lines_removed"),
                F.coalesce(F.col("__kc"), F.lit(0)).cast("long")
                .alias("kept_chars"),
                F.md5(F.coalesce(cleaned, F.lit("")))
                .alias("cleaned_fingerprint")))
