"""Text analysis operators for document corpora.

All pure Catalyst expressions (split/regexp/aggregate) — no Python
in the hot path — so they pipeline into the same scan as dedup
signatures at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# small built-in stopword seed lists for the n-gram/stopword language
# heuristic; good enough for routing, NOT a general lang-id model.
_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "as"],
    "fr": ["le", "la", "les", "de", "des", "et", "est", "pour", "dans", "que"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "für", "auf", "nicht"],
    "es": ["el", "la", "los", "de", "que", "y", "es", "para", "con", "por"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokens of lowercased text."""
    return F.split(F.trim(F.lower(text)), r"\s+")


def _tokens_sql(text_col: str) -> str:
    """SQL-string twin of :func:`tokens` composed with the non-empty
    filter — the ONE definition every inline gate expression
    (:func:`quality_gate_expr`,
    :func:`mirabelle_spark.pipeline.sampling.dsir_gate_expr`)
    derives its token array from, so the tokenizer can never
    silently diverge between the Column form and the hand-built SQL
    form (ADVICE r11). Keep in lock-step with :func:`tokens`."""
    return f"filter(split(trim(lower({text_col})), '\\\\s+'), t -> t != '')"


def token_count(df: DataFrame, text_col: str = "text", out: str = "n_tokens") -> DataFrame:
    """Whitespace token count."""
    t = F.when(
        F.length(F.trim(F.col(text_col))) == 0, F.lit(0)
    ).otherwise(F.size(tokens(F.col(text_col))))
    return df.withColumn(out, t)


def bpe_token_count(df: DataFrame, text_col: str = "text", out: str = "n_bpe_tokens") -> DataFrame:
    """Count of BPE-ish regex tokens (word pieces + digits + punct)."""
    toks = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0
    )
    return df.withColumn(out, F.size(toks))


def quality_score(df: DataFrame, text_col: str = "text", out: str = "quality") -> DataFrame:
    """Heuristic quality in [0,1]: combines length, punctuation
    ratio, stopword presence, and mean word length — the classic
    cheap pre-filter for training corpora.

    Components (all deterministic, exact arithmetic):
      len_score  = least(n_chars/500, 1)
      punct_pen  = 1 - least(punct_chars/n_chars*5, 1)
      stop_score = least(stopword_hits/n_tokens*5, 1)
      wordlen_ok = 1 if 3 ≤ mean_word_len ≤ 12 else 0
    quality = (len_score + punct_pen + stop_score + wordlen_ok) / 4
    """
    txt = F.col(text_col)
    n_chars = F.length(txt).cast("double")
    toks = tokens(txt)
    n_tokens = F.size(toks).cast("double")
    punct = F.length(F.regexp_replace(txt, r"[^!-/:-@\[-`{-~]", "")).cast("double")
    en = F.array(*[F.lit(w) for w in _STOPWORDS["en"]])
    stop_hits = F.size(F.filter(toks, lambda t: F.array_contains(en, t))).cast("double")
    mean_wl = F.when(n_tokens > 0, (n_chars - (n_tokens - 1)) / n_tokens).otherwise(
        F.lit(0.0)
    )
    len_score = F.least(n_chars / 500.0, F.lit(1.0))
    punct_pen = F.lit(1.0) - F.least(
        F.when(n_chars > 0, punct / n_chars * 5.0).otherwise(F.lit(0.0)), F.lit(1.0)
    )
    stop_score = F.least(
        F.when(n_tokens > 0, stop_hits / n_tokens * 5.0).otherwise(F.lit(0.0)),
        F.lit(1.0),
    )
    wordlen_ok = F.when((mean_wl >= 3.0) & (mean_wl <= 12.0), F.lit(1.0)).otherwise(
        F.lit(0.0)
    )
    q = (len_score + punct_pen + stop_score + wordlen_ok) / F.lit(4.0)
    return df.withColumn(out, q)


def lang_id(df: DataFrame, text_col: str = "text", out: str = "lang_pred") -> DataFrame:
    """Stopword-overlap language heuristic: score each language by
    fraction of its seed stopwords present in the token set; argmax
    wins, 'und' (undetermined) when no stopword hits at all.
    Deterministic tie-break: language name ascending."""
    toks = tokens(F.col(text_col))
    scores = []
    # struct compares fields in order: score desc, then NEGATED rank —
    # so a score tie resolves to the alphabetically FIRST language
    # (rank 0 has the greatest negated rank).
    for rank, lang in enumerate(sorted(_STOPWORDS)):
        wl = F.array(*[F.lit(w) for w in _STOPWORDS[lang]])
        hits = F.size(F.array_intersect(wl, toks)).cast("double")
        scores.append(
            F.struct(hits.alias("s"), F.lit(-rank).alias("r"), F.lit(lang).alias("l"))
        )
    best = F.array_max(F.array(*scores))
    return df.withColumn(
        out, F.when(best["s"] > 0, best["l"]).otherwise(F.lit("und"))
    )


def fingerprint(df: DataFrame, text_col: str = "text", out: str = "fingerprint") -> DataFrame:
    """128-bit content fingerprint of the normalized text (md5 hex).
    Normalization: lowercase + whitespace collapse, so formatting
    changes don't alter the fingerprint."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return df.withColumn(out, F.md5(norm))


def rolling_fingerprint(
    df: DataFrame, text_col: str = "text", out: str = "rolling_fp", window: int = 8
) -> DataFrame:
    """Order-sensitive document fingerprint: minimum md5 over rolling
    word windows (a winnowing-style sketch) — robust to local edits,
    order-sensitive unlike a bag-of-words hash. md5 (not xxhash) so
    the oracle can mirror it engine-for-engine; at 100 TB swap the
    hash for xxhash64 — the plan shape is identical."""
    words = F.split(F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")), " ")
    k = F.greatest(F.size(words) - (window - 1), F.lit(1))
    # shifted-zip, not transform(sequence, i -> slice(words, i, n)):
    # expressions inside a transform lambda re-evaluate per element,
    # which re-splits the text once per window (PERF.md §26). Short
    # tail windows match the slice form: concat_ws skips the nulls
    # arrays_zip pads with, = array_join of a short slice.
    shifted = [
        F.slice(words, j + 1, F.greatest(F.size(words) - j, F.lit(0))).alias(
            f"w{j}"
        )
        for j in range(window)
    ]
    z = F.arrays_zip(*shifted)
    grams = F.transform(
        F.slice(z, 1, k),
        lambda s: F.md5(F.concat_ws(" ", *[s[f"w{j}"] for j in range(window)])),
    )
    return df.withColumn(out, F.array_min(grams))


def ngram_repetition(
    df: DataFrame, n: int = 3, text_col: str = "text", out: str = "rep_ratio"
) -> DataFrame:
    """Repeated n-gram fraction — the standard "degenerate text"
    quality signal (1 − distinct/total word n-grams; 0 for docs with
    fewer than n words). Pure Catalyst, no shuffle, no UDF.

    Shape matters: building grams as ``transform(sequence(1,k),
    i -> slice(toks, i, n))`` inlines the tokenizer into every loop
    element — k re-splits per document (the PERF.md §6 trap; measured
    3.3 s at sf0.1). Zipping the token array against its n−1 shifted
    copies costs n splits total: 0.35 s."""
    toks = tokens(F.col(text_col))
    k = F.size(toks) - (n - 1)
    shifted = [
        F.slice(
            toks, j + 1, F.greatest(F.size(toks) - j, F.lit(0))
        ).alias(f"w{j}")
        for j in range(n)
    ]
    z = F.arrays_zip(*shifted)  # padded with nulls past the shortest
    grams = F.transform(
        F.slice(z, 1, F.greatest(k, F.lit(0))),
        lambda s: F.concat_ws(" ", *[s[f"w{j}"] for j in range(n)]),
    )
    ratio = F.when(k <= 0, F.lit(0.0)).otherwise(
        1.0 - F.size(F.array_distinct(grams)).cast("double") / k.cast("double")
    )
    return df.withColumn(out, ratio)


# Gopher rule 7's required-word list (Rae et al. 2021, §A1.1.2,
# public): a doc must contain >= 2 of these to look like prose.
_GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, §A1.1.2
    — the public MassiveWeb filter), one boolean per rule plus the
    conjunction:

      word_count_ok   min_words <= n_words <= max_words
      word_len_ok     3 <= mean word length <= 10
      symbol_ok       (# + '...' occurrences) / n_words <= 0.1
      bullet_ok       <= 90% of lines start with a bullet
      ellipsis_ok     <= 30% of lines end with '...'
      alpha_ok        >= 80% of words contain a letter
      stopword_ok     >= 2 of the 8 required stopwords present
      passes          AND of all seven

    Pure Catalyst — one projection, no shuffle, pipelines into the
    scan; the division operands are integers so every ratio is one
    exact IEEE division (engine-portable)."""
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    nd = n.cast("double")
    wl_sum = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
    )
    mean_wl = F.when(n > 0, wl_sum.cast("double") / nd).otherwise(F.lit(0.0))
    hashes = F.length(F.col(text_col)) - F.length(
        F.regexp_replace(F.col(text_col), "#", "")
    )
    # non-overlapping '...' occurrences, same count both engines
    ellipses = (
        F.length(F.col(text_col))
        - F.length(F.regexp_replace(F.col(text_col), r"\.\.\.", ""))
    ) / 3
    symbol_ratio = F.when(n > 0, (hashes + ellipses).cast("double") / nd).otherwise(
        F.lit(0.0)
    )
    lines = F.split(F.col(text_col), "\n")
    n_lines = F.size(lines).cast("double")
    bullet_lines = F.size(
        F.filter(lines, lambda ln: F.trim(ln).rlike(r"^[-*•]"))
    ).cast("double")
    ellipsis_lines = F.size(
        F.filter(lines, lambda ln: F.rtrim(ln).rlike(r"\.\.\.$"))
    ).cast("double")
    alpha_words = F.size(
        F.filter(toks, lambda t: t.rlike("[a-z]"))
    ).cast("double")
    stops = F.array(*[F.lit(w) for w in _GOPHER_STOPWORDS])
    stop_hits = F.size(F.array_intersect(stops, toks))

    word_count_ok = (n >= min_words) & (n <= max_words)
    word_len_ok = (mean_wl >= 3.0) & (mean_wl <= 10.0)
    symbol_ok = symbol_ratio <= 0.1
    bullet_ok = F.when(n_lines > 0, bullet_lines / n_lines <= 0.9).otherwise(
        F.lit(True)
    )
    ellipsis_ok = F.when(n_lines > 0, ellipsis_lines / n_lines <= 0.3).otherwise(
        F.lit(True)
    )
    alpha_ok = F.when(n > 0, alpha_words / nd >= 0.8).otherwise(F.lit(False))
    stopword_ok = stop_hits >= 2
    return df.select(
        "*",
        n.alias("n_words"),
        word_count_ok.alias("word_count_ok"),
        word_len_ok.alias("word_len_ok"),
        symbol_ok.alias("symbol_ok"),
        bullet_ok.alias("bullet_ok"),
        ellipsis_ok.alias("ellipsis_ok"),
        alpha_ok.alias("alpha_ok"),
        stopword_ok.alias("stopword_ok"),
        (
            word_count_ok
            & word_len_ok
            & symbol_ok
            & bullet_ok
            & ellipsis_ok
            & alpha_ok
            & stopword_ok
        ).alias("passes"),
    )


def token_doc_frequency(
    df: DataFrame, k: int = 100, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus vocabulary profile: the ``k`` tokens appearing in the
    most documents → (token, doc_freq, term_freq). The standard
    first look at a new corpus (and the input to stopword discovery
    / contamination triage).

    Scale shape: occurrence explode → (doc, token) hash aggregation
    (map-side partial combine collapses each partition's repeats
    before any shuffle) → (token) aggregation — the second shuffle
    carries one row per document-distinct token, never documents —
    → TakeOrdered top-k; no window, no global sort. Deterministic
    order: doc_freq desc, token asc."""
    per_doc = (
        df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token"))
        .filter(F.length("token") > 0)
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("__tf__"))
    )
    freq = per_doc.groupBy("token").agg(
        F.count(F.lit(1)).alias("doc_freq"),
        F.sum("__tf__").alias("term_freq"),
    )
    return freq.orderBy(F.desc("doc_freq"), F.asc("token")).limit(k)


def token_rarity_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out: str = "rarity_score",
) -> DataFrame:
    """Unigram-frequency score — the cheap perplexity proxy: for each
    document, the mean corpus document-frequency of its token
    occurrences. Low score = rare vocabulary (noise, codes, other
    languages); high = common prose. Two passes over the corpus:

      1. doc-frequency per token (distinct-per-doc explode + hash
         agg, partial combine before the shuffle);
      2. per-occurrence explode joined to the frequency table on the
         token (shuffle hash join — the vocabulary is Zipf-bounded,
         far smaller than the corpus; only (id, token) pairs move),
         then one sum/count per document.

    The mean is sum(bigint)/count(bigint) — a single IEEE division
    of exact integers, so the DuckDB oracle reproduces it bit-for-
    bit (no float accumulation order to diverge)."""
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token")
    ).filter(F.length("token") > 0)
    freq = toks.select(id_col, "token").distinct().groupBy("token").agg(
        F.count(F.lit(1)).alias("__df__")
    )
    joined = toks.join(freq, "token")
    return joined.groupBy(id_col).agg(
        (F.sum("__df__").cast("double") / F.count(F.lit(1)).cast("double")).alias(out)
    )


def remove_boilerplate_lines(
    df: DataFrame,
    min_docs: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop every line that appears (exactly, after trim) in at
    least ``min_docs`` distinct documents — the C4/RefinedWeb-style
    boilerplate rule (nav bars, cookie banners, license headers) —
    and rebuild each document from its surviving lines in order.
    Documents with no surviving lines are dropped.

    Scale shape: lines explode once; the per-line doc-frequency
    count is a hash aggregation on the 64-bit line hash (the line
    text itself never shuffles twice); membership is a left-anti
    join on that hash; reassembly is one groupBy with an in-group
    sort (array_sort over (pos, line) structs) — order restored
    without a window function.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("__pos__", "__line__"),
    ).withColumn("__line__", F.trim(F.col("__line__")))
    lines = lines.withColumn("__h__", F.xxhash64("__line__"))
    # blank lines are structure, not boilerplate: after trim they all
    # share one hash, so counting them would strip every paragraph
    # break corpus-wide once min_docs docs contain any blank line
    boiler = (
        lines.filter(F.length("__line__") > 0)
        .groupBy("__h__")
        .agg(F.count_distinct(F.col(id_col)).alias("__docs__"))
        .filter(F.col("__docs__") >= min_docs)
        .select("__h__")
    )
    kept = lines.join(boiler, "__h__", "left_anti")
    ordered = F.transform(
        F.array_sort(
            F.collect_list(F.struct(F.col("__pos__"), F.col("__line__")))
        ),
        lambda s: s["__line__"],
    )
    return (
        kept.groupBy(id_col)
        .agg(F.array_join(ordered, "\n").alias("text_clean"))
    )


def linear_quality_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out: str = "quality_logit",
) -> DataFrame:
    """fastText-style hashed linear classifier INFERENCE (the
    CCNet/LLaMA-lineage quality-filter shape): each token hashes to
    a signed integer weight, the document's logit is the token-weight
    sum. One Catalyst projection per doc — ``aggregate`` over the
    token array, no explode, no shuffle, no UDF — so at 100 TB the
    score rides the same scan as every other per-doc feature.

    Weights here are a deterministic placeholder table,
    ``w(tok) = (md5_int(tok) mod 1001) - 500`` (uniform in
    [-500, 500], engine-portable via the same md5/conv trick as the
    MinHash oracle); a production deployment swaps ``w`` for trained
    weights as a literal array indexed by ``hash mod dim`` or a
    broadcast map — the plan shape is identical. The logit is an
    exact INTEGER sum (order-free on any partitioning) divided by
    1000 once at the end; empty/whitespace docs score 0.
    """
    toks = tokens(F.col(text_col))
    w = (
        "aggregate(filter(__toks__, t -> t != ''), CAST(0 AS BIGINT), "
        "(acc, t) -> acc + (pmod(CAST(conv(substring(md5(t), 1, 15), 16, 10) "
        "AS BIGINT), 1001) - 500))"
    )
    return (
        df.withColumn("__toks__", toks)
        .withColumn(out, F.expr(w).cast("double") / F.lit(1000.0))
        .drop("__toks__")
    )


def token_chunks(
    df: DataFrame,
    divisor: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Content-defined chunking at token granularity (the
    RAG/pretraining chunker): a chunk boundary opens BEFORE any
    token whose portable hash divides ``divisor`` — like
    rolling-hash CDC, boundaries depend only on content, so editing
    one sentence re-chunks O(1) chunks instead of shifting every
    fixed-size window downstream. Expected chunk length ≈ divisor
    tokens.

    Fully relational: posexplode tokens → boundary flag → running
    boundary count per doc (a window ordered by token position —
    per-DOC state, bounded by document length, never corpus-grain) →
    per-(doc, chunk) aggregate emitting token count and the md5 of
    the reassembled chunk text (chunks stay verifiable without
    shipping their bodies). Empty docs yield no chunks.
    """
    from pyspark.sql import Window as W

    toks = F.filter(tokens(F.col(text_col)), lambda t: t != "")
    pe = df.select(
        F.col(id_col), F.posexplode(toks).alias("pos", "tok")
    )
    h = F.expr(
        "pmod(CAST(conv(substring(md5(tok), 1, 15), 16, 10) AS BIGINT), "
        f"{int(divisor)})"
    )
    flagged = pe.withColumn(
        "__b__", ((h == 0) & (F.col("pos") > 0)).cast("long")
    )
    w = W.partitionBy(id_col).orderBy("pos")
    chunked = flagged.withColumn("chunk_id", F.sum("__b__").over(w).cast("int"))
    return (
        chunked.groupBy(id_col, "chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.md5(F.concat_ws(" ", F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("tok")))
            ).getField("tok"))).alias("chunk_md5"),
        )
    )


def bpe_pair_counts(df: DataFrame, text_col: str = "text", top_n: int = 20) -> DataFrame:
    """The statistics pass of one BPE merge step (Sennrich et al.
    2016, "Neural Machine Translation of Rare Words with Subword
    Units", Algorithm 1): corpus-wide adjacent symbol-pair
    frequencies over the initial character alphabet, weighted by
    word occurrence count — the top row IS the first merge.
    Training iterates: re-segment with the merged symbol, recount
    (the same driver-loop shape as ann.train_ivf; each round is one
    relational pass like this one).

    Plan: words aggregate to a (word, count) table FIRST, so pair
    explosion runs over distinct words (vocabulary-sized, not
    corpus-sized); the pair table is bounded by |alphabet|², so the
    final top-N is orderBy+limit (TakeOrderedAndProject — no global
    window over unbounded data). Returns (pair, weight, rank),
    rank 1..top_n by (weight desc, pair asc)."""
    words = F.explode(
        F.split(F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")), " ")
    ).alias("word")
    wf = (
        df.select(words)
        .filter(F.length("word") >= 2)  # 1-char words have no pair
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("__n__"))
    )
    pairs = wf.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.col("word").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "__n__",
    )
    agg = pairs.groupBy("pair").agg(F.sum("__n__").alias("weight"))
    top = agg.orderBy(F.col("weight").desc(), F.col("pair").asc()).limit(top_n)
    from pyspark.sql import Window as W

    # rank attaches AFTER the limit: the window covers <= top_n rows
    wnd = W.orderBy(F.col("weight").desc(), F.col("pair").asc())
    return top.withColumn("rank", F.row_number().over(wnd))


# --- BPE tokenizer training (r9) -------------------------------------------

# Segmentation state is a delimited string: every symbol wrapped in a
# DOUBLE \x1f separator ("\x1f\x1fa\x1f\x1fb\x1f\x1f"). A merge (a,b)
# is then ONE literal replace of "\x1fa\x1f\x1fb\x1f" with
# "\x1fab\x1f": each match consumes one half of each doubled
# delimiter, so adjacent matches in a run never contend for a shared
# boundary — the left-to-right non-overlapping scan pairs a run of n
# identical symbols exactly like the canonical greedy list scan
# (aaaa -> [aa, aa], aaa -> [aa, a]), and the replacement restores
# the doubled-delimiter invariant by construction. Literal replace
# (no lookarounds) so the DuckDB (RE2) oracle applies the IDENTICAL
# rule. \x1f (unit separator) is stripped from words at seg init so
# the delimiter invariant holds by construction even for hostile
# input (a raw \x1f inside a word would otherwise forge symbol
# boundaries); the oracle strips it identically.
_BPE_SEP = "\x1f"
_BPE_SEP2 = _BPE_SEP * 2


def _bpe_seg_init(word: Column) -> Column:
    """word -> doubled-delimiter character segmentation."""
    return F.concat(
        F.regexp_replace(
            F.translate(word, _BPE_SEP, ""), "(.)", _BPE_SEP2 + "$1"
        ),
        F.lit(_BPE_SEP2),
    )


def _bpe_merge_apply(seg: Column, a: str, b: str) -> Column:
    return F.replace(
        seg,
        F.lit(_BPE_SEP + a + _BPE_SEP2 + b + _BPE_SEP),
        F.lit(_BPE_SEP + a + b + _BPE_SEP),
    )


def _bpe_syms(seg: Column) -> Column:
    return F.filter(F.split(seg, _BPE_SEP), lambda x: x != F.lit(""))


def _bpe_pair_weights(vocab: DataFrame) -> DataFrame:
    """(seg, __n__) vocab -> (a, b, weight): corpus-weighted adjacent
    symbol-pair counts under the current segmentation."""
    staged = vocab.select(_bpe_syms(F.col("seg")).alias("__sy__"), "__n__").filter(
        F.size("__sy__") >= 2  # guard BEFORE sequence: sequence(1,0) descends
    )
    idx = staged.select(
        "__sy__",
        "__n__",
        F.explode(F.sequence(F.lit(1), F.size("__sy__") - 1)).alias("__i__"),
    )
    return (
        idx.select(
            F.element_at("__sy__", F.col("__i__")).alias("a"),
            F.element_at("__sy__", F.col("__i__") + 1).alias("b"),
            "__n__",
        )
        .groupBy("a", "b")
        .agg(F.sum("__n__").alias("weight"))
    )


def _bpe_safe_batch(
    rows: list[tuple[str, str, int]],
    view_truncated: bool,
    batch: int,
    min_weight: int,
) -> list[tuple[str, str]]:
    """Longest prefix of the sorted pair list that the serial greedy
    loop PROVABLY produces as its next merges, without recounting.

    Exactness argument (each condition closes one divergence route
    between 'apply the prefix at once' and 'recount after every
    merge'):

    - NO SKIPS — a kept pair must be the very next row. A skipped
      higher-weight pair that merely OVERLAPS earlier kept symbols
      loses only the occurrences the merge consumed; its residual
      weight can still exceed later rows, so the serial argmax
      would pick it first. Prefix-only keeps every not-kept pair
      strictly below (weight, tie-break) the current row.
    - TRIPLE-SET DISJOINTNESS — {a, b, ab} of the candidate must not
      meet {a', b', a'b'} of any earlier kept merge. Sharing an
      input symbol changes the candidate's count; a candidate
      symbol equal to an earlier OUTPUT string gains new
      occurrences. Either way the precomputed weight is stale.
    - TIE FENCE — merging (a', b') creates pairs (X, a'b') bounded
      by count(X, a') and (a'b', Y) bounded by count(b', Y). Those
      bounding pairs overlap kept symbols, so by the no-skip rule
      they sit at-or-below the candidate; if one sits EXACTLY at the
      candidate's weight, the created pair can tie it and win the
      lexicographic tie-break (a'b' is a fresh string with arbitrary
      sort position). Stop on any visible equal-weight pair that
      overlaps kept symbols.
    - SELF-PAIR FENCE — a kept SELF-pair (a', a') breaks the tie
      fence's "bounding pairs are never themselves kept" argument:
      merging (a', a') creates (a'a', a') / (a', a'a') pairs bounded
      by count(a', a') — the kept pair ITSELF, which the tie scan
      excludes — so the created pair's weight can tie or exceed any
      later batch member (e.g. 'aaaa' -> 'aa aa' births (aa, aa) at
      weight up to the self-pair's own). The batch therefore ENDS
      immediately after a self-pair is kept; the self-pair itself is
      safe (its weight is exact by disjointness, its rank by the
      no-skip rule).
    - VIEW FENCE — pairs below the collected top-K are only known to
      be <= the last visible weight; keep a candidate only while it
      is STRICTLY above that floor (unless the view is complete), so
      invisible bounding pairs cannot tie either.

    Worst case (adversarial ties everywhere) degenerates to the
    canonical batch of one — still exact, never wrong."""
    w_last = rows[-1][2]
    kept: list[tuple[str, str]] = [(rows[0][0], rows[0][1])]
    if rows[0][0] == rows[0][1]:  # self-pair fence: batch ends here
        return kept
    syms = {rows[0][0], rows[0][1], rows[0][0] + rows[0][1]}
    for a, b, w in rows[1:]:
        if len(kept) >= batch or w < min_weight:
            break
        if view_truncated and w <= w_last:
            break
        if {a, b, a + b} & syms:
            break
        # kept pairs are excluded from the tie scan: a created pair
        # (X, a'b') / (a'b', Y) is bounded by count(X, a') /
        # count(b', Y), and since kept merges are symbol-disjoint and
        # NON-self (the self-pair fence ends the batch before a
        # self-pair can precede this row) those bounding pairs are
        # never themselves kept — only NON-kept visible pairs at
        # exactly this weight can feed a tie (invisible ones are
        # fenced by the view check above)
        tie_unsafe = any(
            w2 == w
            and (a2, b2) != (a, b)
            and (a2, b2) not in kept
            and ({a2, b2, a2 + b2} & syms)
            for a2, b2, w2 in rows
        )
        if tie_unsafe:
            break
        kept.append((a, b))
        syms |= {a, b, a + b}
        if a == b:  # self-pair fence (see docstring)
            break
    return kept


def _bpe_skip_batch(
    rows: list[tuple[str, str, int]],
    batch: int,
    min_weight: int,
) -> list[tuple[str, str]]:
    """Skip-allowed disjoint top-B selection (exact=False mode):
    walk the sorted pair list keeping up to ``batch`` pairs whose
    {a, b, ab} triple-sets are mutually disjoint, SKIPPING (not
    stopping at) overlapping ones. Disjointness keeps every kept
    pair's precomputed weight exact at apply time; what is given up
    vs :func:`_bpe_safe_batch` is canonical merge ORDER (a skipped
    pair's residual weight after the batch may beat pairs kept
    below it). Chain-free by construction, so round count tracks
    ~merges/batch even on head-heavy corpora."""
    kept: list[tuple[str, str]] = []
    syms: set[str] = set()
    for a, b, w in rows:
        if len(kept) >= batch:
            break
        if w < min_weight:
            break
        if {a, b, a + b} & syms:
            continue
        kept.append((a, b))
        syms |= {a, b, a + b}
    return kept


def bpe_train(
    df: DataFrame,
    n_merges: int = 24,
    text_col: str = "text",
    min_weight: int = 2,
    batch: int = 8,
    exact: bool = True,
    stats: dict | None = None,
) -> list[tuple[str, str]]:
    """Train a BPE tokenizer relationally (Sennrich et al. 2016,
    Algorithm 1 — canonical greedy merges, see _BPE_SEP note): each
    round is one pair-count aggregate over the VOCABULARY table plus
    one literal-replace projection, and the vocab is
    localCheckpoint-ed per round so lineage stays flat. Stops early
    when no pair reaches ``min_weight``. At 100 TB the vocab table is distributed and
    bodies never shuffle — only (word-hash, count) rows build it.

    ``batch`` > 1 cuts the driver-loop round count (the r9-verdict
    scale finding: a 32k-merge tokenizer must not be 2 Spark jobs
    per merge): each round collects the top-K pairs (K = 4·batch,
    same aggregate cost as top-1) and applies the longest PROVABLY-
    serial-equal prefix in one projection — see
    :func:`_bpe_safe_batch` for the exactness argument. The merge
    list is bit-identical to ``batch=1`` on any corpus, pinned by
    ``tests/test_pipeline.py`` equality + hypothesis tests.

    ``exact=False`` trades canonical ORDER for round count: each
    round keeps the top-B symbol-disjoint pairs, SKIPPING pairs that
    overlap earlier batch members instead of stopping at them (the
    chain-dependency breaker — canonical BPE merge chains like
    ('a','t') -> ('at','c') serialize the exact mode to ~1 merge per
    round on head-heavy corpora). Every applied pair is still merged
    at its EXACT current corpus weight (disjointness keeps the
    precomputed weights true), so the result is a valid greedy-family
    BPE vocabulary — but merge ORDER (and hence tie-adjacent merge
    choices) can diverge from the serial canon; the pinned/oracle
    tokenizer always uses exact mode. Same trade as parallel BPE
    trainers (YouTokenToMe lineage).

    Pass ``stats={}`` to receive {"rounds": r, "batch_sizes": [...]}
    for round-count accounting. Returns the merge list for
    :func:`bpe_apply`."""
    words = F.explode(
        F.split(F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")), " ")
    ).alias("word")
    vocab = (
        df.select(words)
        .filter(F.length("word") >= 1)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("__n__"))
        .select(_bpe_seg_init(F.col("word")).alias("seg"), "__n__")
        .localCheckpoint()
    )
    merges: list[tuple[str, str]] = []
    rounds = 0
    batch_sizes: list[int] = []
    top_k = max(4 * batch, 4)
    while len(merges) < n_merges:
        top = (
            _bpe_pair_weights(vocab)
            .orderBy(F.col("weight").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(top_k)
            .collect()
        )
        rounds += 1
        if not top or top[0]["weight"] < min_weight:
            break
        rows = [(r["a"], r["b"], r["weight"]) for r in top]
        if exact:
            kept = _bpe_safe_batch(rows, len(rows) == top_k, batch, min_weight)
        else:
            kept = _bpe_skip_batch(rows, batch, min_weight)
        kept = kept[: n_merges - len(merges)]
        merges.extend(kept)
        batch_sizes.append(len(kept))
        seg = F.col("seg")
        for a, b in kept:  # disjoint symbols: replaces commute; kept
            seg = _bpe_merge_apply(seg, a, b)  # order = serial order anyway
        vocab = vocab.withColumn("seg", seg).localCheckpoint()
    if stats is not None:
        stats["rounds"] = rounds
        stats["batch_sizes"] = batch_sizes
    return merges


def bpe_apply(word: Column, merges: list[tuple[str, str]]) -> Column:
    """Tokenize a word column with trained merges: the same
    doubled-delimiter literal replaces the trainer used, applied in
    merge order — array<string> subword tokens. A chain of
    len(merges) JVM string replaces; no Python, no UDF.

    Depth limit and the 32k-merge plan: one nested expression per
    merge is fine to a few hundred merges (Catalyst expression-tree
    depth and codegen method size set the practical ceiling, and
    the pinned artifact stays well under it), NOT at real tokenizer
    vocab size. At 32k merges, tokenize via the SEGMENT TABLE
    formulation instead: segment the distinct-WORD table once
    (vocabulary-sized, the bpe_segment_profile shape) by iterating
    merges in chunks of ~200 replaces per projection with a
    localCheckpoint between chunks (flat lineage, constant-depth
    plans, 160 jobs for 32k merges), persist the (word ->
    array<subword>) map, and broadcast-join corpora against it —
    the apply cost becomes one hash join, never a per-row replace
    chain. The chunked driver loop exists in bpe_train already;
    the segment-table join is `token_rarity_score`'s shape."""
    seg = _bpe_seg_init(word)
    for a, b in merges:
        seg = _bpe_merge_apply(seg, a, b)
    return _bpe_syms(seg)


def bpe_apply_chunked(
    words_df: DataFrame,
    merges: list[tuple[str, str]],
    word_col: str = "word",
    out: str = "toks",
    chunk: int = 200,
) -> DataFrame:
    """Segment a (distinct-)word table under an arbitrarily long
    merge list — the segment-table formulation :func:`bpe_apply`'s
    depth note names for real (32k-merge) vocabularies: merges are
    applied in chunks of ``chunk`` literal replaces per projection
    with a ``localCheckpoint`` between chunks, so every plan stays
    constant-depth (no 32k-deep expression tree, no janino method
    blowup) and lineage stays flat; 32k merges = 160 chunked jobs
    over a VOCABULARY-sized table, never the corpus. Identical
    tokens to :func:`bpe_apply` by construction (same replaces,
    same order — pytest-pinned). Corpora then broadcast-join the
    resulting (word -> toks) map instead of paying any replace
    chain per row."""
    df = words_df.withColumn("__seg__", _bpe_seg_init(F.col(word_col)))
    for i in range(0, len(merges), chunk):
        col = F.col("__seg__")
        for a, b in merges[i : i + chunk]:
            col = _bpe_merge_apply(col, a, b)
        df = df.withColumn("__seg__", col)
        if i + chunk < len(merges):
            df = df.localCheckpoint()
    return df.withColumn(out, _bpe_syms(F.col("__seg__"))).drop("__seg__")


def bpe_segment_profile(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    top_n: int = 50,
) -> DataFrame:
    """Corpus subword-frequency profile under trained merges:
    segmentation runs once per DISTINCT word (vocabulary table),
    exploded tokens weighted by word count; top_n via orderBy+limit.
    Returns (token, weight, rank)."""
    words = F.explode(
        F.split(F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")), " ")
    ).alias("word")
    wf = (
        df.select(words)
        .filter(F.length("word") >= 1)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("__n__"))
    )
    toks = wf.select(F.explode(bpe_apply(F.col("word"), merges)).alias("token"), "__n__")
    agg = toks.groupBy("token").agg(F.sum("__n__").alias("weight"))
    top = agg.orderBy(F.col("weight").desc(), F.col("token").asc()).limit(top_n)
    from pyspark.sql import Window as W

    wnd = W.orderBy(F.col("weight").desc(), F.col("token").asc())
    return top.withColumn("rank", F.row_number().over(wnd))


def bpe_fertility(
    df: DataFrame,
    merges: list[tuple[str, str]],
    by: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer FERTILITY by group: mean subword tokens per word
    under trained merges — the standard tokenizer-fit diagnostic
    (fertility 1.0 = every word one token; a domain whose fertility
    is high is under-covered by the vocabulary and costs that many
    times more sequence length). Returns
    (by, n_words, n_subtokens, fertility).

    Vocabulary-table shape: segmentation runs once per DISTINCT
    word (the bpe_segment_profile discipline — at 32k merges use
    the chunked loop, see bpe_apply); the corpus contributes one
    (group, word) hash agg, then narrow count rows join the
    vocab-sized word→n_subtokens map. fertility is one IEEE
    division of exact BIGINT sums — bit-portable cross-engine."""
    words = df.select(
        F.col(by),
        F.explode(
            F.split(
                F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")),
                " ",
            )
        ).alias("word"),
    ).filter(F.length("word") >= 1)
    wf = words.groupBy(by, "word").agg(F.count(F.lit(1)).alias("__n__"))
    vocab = (
        wf.select("word")
        .distinct()
        .withColumn("__k__", F.size(bpe_apply(F.col("word"), merges)))
    )
    j = wf.join(vocab, "word")
    n_words = F.sum("__n__").cast("bigint")
    n_sub = F.sum(F.col("__n__") * F.col("__k__")).cast("bigint")
    return (
        j.groupBy(by)
        .agg(n_words.alias("n_words"), n_sub.alias("n_subtokens"))
        .select(
            by,
            "n_words",
            "n_subtokens",
            (
                F.col("n_subtokens").cast("double")
                / F.col("n_words").cast("double")
            ).alias("fertility"),
        )
    )


def tfidf_top_terms(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    idf: str = "rational",
) -> DataFrame:
    """Per-document top-n terms by tf-idf.

    ``idf="rational"`` (default, the oracle path): score = tf/df.
    Like classic tf·ln(N/df) it is strictly increasing in tf and in
    1/df; unlike it, the score is a single IEEE division of exact
    integers, so the ranking is engine-portable bit-for-bit (ln is
    not correctly-rounded in either engine's libm — a last-ulp
    divergence that flips ranks on near-ties).

    ``idf="ln"`` (r10, VERDICT r9 ask #7): classic tf·ln(N/df) for
    users comparing against sklearn et al. NOT oracle-gated (the
    libm caveat above is exactly why); the rankings genuinely
    differ — ln compresses df differences multiplicatively against
    tf where the rational form weighs them as a ratio, e.g.
    tf=2,df=4 vs tf=1,df=1 of N=8: rational 0.5 < 1.0 but
    ln-scored 1.386 > 0. Pinned on such a corpus by
    test_tfidf_ln_option. Ties break token-asc in both.

    Scale shape: (doc, token, tf) hash agg → vocab-sized df agg →
    shuffle hash join on token (only (id, token, tf) rows move, the
    token_rarity_score shape) → per-DOC window (keyed, never
    global); ln mode adds one broadcast scalar (N, a count).
    Returns (doc_id, token, tf, df, rank), rank <= n."""
    from pyspark.sql import Window as W

    if idf not in ("rational", "ln"):
        raise ValueError(f"idf must be 'rational' or 'ln', got {idf!r}")
    per_doc = (
        df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token"))
        .filter(F.length("token") > 0)
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    freq = per_doc.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    joined = per_doc.join(freq, "token")
    if idf == "rational":
        score = F.col("tf").cast("double") / F.col("df").cast("double")
    else:
        n_docs = df.select(F.count(F.lit(1))).collect()[0][0]
        score = F.col("tf").cast("double") * F.log(
            F.lit(float(n_docs)) / F.col("df").cast("double")
        )
    w = W.partitionBy(id_col).orderBy(score.desc(), F.col("token").asc())
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n)
        .select(id_col, "token", "tf", "df", "rank")
    )


# ---------------------------------------------------------------------------
# engine-trained quality classifier (r11) — the trained-weights story
# linear_quality_score's docstring promises, made real: logistic
# regression over hashed-bucket + dense quality features, trained
# relationally (one aggregate job per GD step, driver holds one
# weight vector), weak-labeled by the Gopher rule subset — the
# fastText-distillation pattern (CCNet lineage: distill a hard rule
# gate into a smooth, rankable score).

_QUALITY_DENSE = 4  # n/(n+100), mean_wl, mean_wl^2, alpha_frac


def _quality_bucket_sql(tok: str, dim: int) -> str:
    """Portable token->bucket hash (the linear_quality/minhash md5
    trick): identical value in Spark and DuckDB."""
    return (
        f"pmod(CAST(conv(substring(md5({tok}), 1, 15), 16, 10) AS BIGINT), {dim})"
    )


def quality_features(
    df: DataFrame,
    dim: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document quality feature vector (id, __x__ array<double>,
    __y__ weak label): ``dim`` hashed-bucket token-frequency lanes
    (count_b / n_tokens) + four dense lanes — n/(n+100) (a rational
    length squash; deliberately NOT log1p, whose transcendental is
    not bit-portable across engines), mean word length, its square
    (gives the linear model the word-length BAND), alpha-word
    fraction. Every lane is built from exact integer counts and
    single IEEE divisions/multiplications, so Spark and DuckDB
    produce bit-identical vectors. The weak label is the
    clean-corpus Gopher subset (word count 30..100k, word length
    band, alpha >= 0.8). ``keep`` passes original columns through
    (e.g. the text for a downstream filter-then-rewrite compose).
    One projection, no shuffle."""
    toks = F.filter(tokens(F.col(text_col)), lambda t: t != F.lit(""))
    # hash each token to its bucket ONCE (md5+conv per token), then
    # build the dim count lanes from the cheap integer array — the
    # naive per-lane filter re-hashes every token dim times
    # (measured 4.3 s → 0.9 s at sf0.1 for the 16-lane scorer)
    out = df.withColumn("__t__", toks).withColumn(
        "__bk__",
        F.expr(f"transform(__t__, t -> {_quality_bucket_sql('t', dim)})"),
    )
    n = F.size(F.col("__t__"))
    nd = n.cast("double")
    wl_sum = F.expr(
        "aggregate(__t__, CAST(0 AS BIGINT), (acc, x) -> acc + length(x))"
    )
    mean_wl = F.when(n > 0, wl_sum.cast("double") / nd).otherwise(F.lit(0.0))
    alpha = F.expr("size(filter(__t__, t -> t rlike '[a-z]'))").cast("double")
    alpha_frac = F.when(n > 0, alpha / nd).otherwise(F.lit(0.0))
    feats = [
        F.when(
            n > 0,
            F.expr(f"size(filter(__bk__, v -> v = {b}))").cast("double")
            / nd,
        ).otherwise(F.lit(0.0))
        for b in range(dim)
    ]
    feats += [nd / (nd + F.lit(100.0)), mean_wl, mean_wl * mean_wl, alpha_frac]
    y = (
        (n >= 30)
        & (n <= 100000)
        & (mean_wl >= 3.0)
        & (mean_wl <= 10.0)
        & F.when(n > 0, alpha / nd >= 0.8).otherwise(F.lit(False))
    ).cast("double")
    return out.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        F.array(*feats).alias("__x__"),
        y.alias("__y__"),
    )


def _logit_expr(weights: list[float], bias: float, xcol: str = "__x__") -> str:
    """Left-associated literal dot product — the PCA-oracle fold
    discipline: generating BOTH engines' expressions from this one
    loop keeps the IEEE addition order identical, so logits are
    bit-equal cross-engine. Literals are STRING-cast ('…'::DOUBLE):
    a bare 16-digit decimal literal routes through DuckDB's
    int64-scaled DECIMAL before the double cast and loses a ULP
    above 2^53, while string→double is correctly-rounded strtod in
    both engines (measured: a constant 8·2^-52 logit drift with
    bare literals, bit-equality with quoted ones)."""
    z = f"CAST('{bias!r}' AS DOUBLE)"
    for i, w in enumerate(weights):
        z = f"({z} + (CAST('{w!r}' AS DOUBLE) * {xcol}[{i}]))"
    return z


def quality_gate_expr(
    weights: list[float], bias: float, dim: int = 16, text_col: str = "text"
):
    """The trained-classifier logit as a MEMBERSHIP-grade inline
    expression: the hashed-bucket frequency dot Σ_b w_b·(c_b/n)
    re-folded in token order as (Σ_t w[bucket(t)])/n, plus the four
    dense lanes as single-pass folds — tokens are hashed ONCE and
    the whole logit is one subtree.

    Exists for the same reason as
    :func:`~mirabelle_spark.pipeline.sampling.dsir_gate_expr`: a
    filter on quality_logreg_score's projected logit gets inlined
    per-lane once downstream drops the column (17 hash transforms
    in the plan, codegen-fallback lambdas, measured 4.9 s → 0.85 s
    at sf0.1). Differs from the bucket-order logit only by FP
    reassociation (≈1e-16 relative) while the trained boundary's
    nearest document sits at |logit| ≥ 7.8e-3 (sf0.1) — membership
    equality is pytest-pinned. quality_logreg_score stays the
    VALUE path (bit-exact cross-engine)."""
    from pyspark.sql import functions as F

    warr = "array(" + ", ".join(
        f"CAST('{x!r}' AS DOUBLE)" for x in weights[:dim]
    ) + ")"
    toks = _tokens_sql(text_col)
    fold = (
        f"aggregate({toks}, CAST(0.0 AS DOUBLE), (acc, t) -> "
        f"acc + element_at({warr}, CAST({_quality_bucket_sql('t', dim)} AS INT) + 1))"
    )
    n = f"size({toks})"
    wl = f"aggregate({toks}, CAST(0 AS BIGINT), (acc, t) -> acc + length(t))"
    alpha = f"size(filter({toks}, t -> t rlike '[a-z]'))"
    nd = f"CAST({n} AS DOUBLE)"
    mwl = f"IF({n} > 0, CAST({wl} AS DOUBLE) / {nd}, CAST(0.0 AS DOUBLE))"
    af = f"IF({n} > 0, CAST({alpha} AS DOUBLE) / {nd}, CAST(0.0 AS DOUBLE))"
    zf = f"IF({n} > 0, ({fold}) / {nd}, CAST(0.0 AS DOUBLE))"
    return F.expr(
        f"((((CAST('{bias!r}' AS DOUBLE) + {zf})"
        f" + (CAST('{weights[dim]!r}' AS DOUBLE) * ({nd} / ({nd} + 100.0))))"
        f" + (CAST('{weights[dim + 1]!r}' AS DOUBLE) * {mwl}))"
        f" + (CAST('{weights[dim + 2]!r}' AS DOUBLE) * ({mwl} * {mwl})))"
        f" + (CAST('{weights[dim + 3]!r}' AS DOUBLE) * {af})"
    )


def train_quality_logreg(
    df: DataFrame,
    dim: int = 16,
    iters: int = 80,
    lr: float = 2.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    stats: dict | None = None,
) -> tuple[list[float], float]:
    """Train the quality classifier relationally: full-batch
    gradient descent on logistic loss, ONE aggregate job per step
    (dim+5 decimal-exact lane sums; the driver holds one
    (dim+4)-vector — the train_ivf / power-iteration state
    discipline). Features are standardized internally from a
    decimal-exact moment aggregate (GD on raw lanes crawls: the
    bucket lanes sit near 1/dim while dense lanes span units), and
    the learned weights FOLD BACK to raw-feature space —
    w_raw = w/sigma, b_raw = b - sum(w*mu/sigma) — so the returned
    model applies directly to :func:`quality_features` vectors and
    pins as plain literals.

    Deterministic and partitioning-invariant: per-row sigmoid/
    residual arithmetic uses literal coefficients; every cross-row
    sum is DECIMAL(38,18) (order-free); sqrt/updates happen on the
    driver. Bit-identical weights under any repartitioning
    (pytest-pinned). Pass ``stats={}`` for {"loss": [...]}."""
    import math

    X = quality_features(df, dim=dim, text_col=text_col, id_col=id_col)
    X = X.localCheckpoint()
    D = dim + _QUALITY_DENSE
    aggs = [
        F.sum(F.col("__x__")[i].cast("decimal(38,18)")).alias(f"m{i}")
        for i in range(D)
    ]
    aggs += [
        F.sum((F.col("__x__")[i] * F.col("__x__")[i]).cast("decimal(38,18)")).alias(
            f"q{i}"
        )
        for i in range(D)
    ]
    aggs.append(F.count(F.lit(1)).alias("n"))
    row = X.agg(*aggs).first()
    cnt = row["n"]
    mu = [float(row[f"m{i}"]) / cnt for i in range(D)]
    sd = [
        max(
            math.sqrt(max(float(row[f"q{i}"]) / cnt - mu[i] * mu[i], 0.0)),
            1e-9,
        )
        for i in range(D)
    ]
    w = [0.0] * D
    b = 0.0
    losses: list[float] = []
    for _ in range(iters):
        zs = f"CAST({b!r} AS DOUBLE)"
        for i in range(D):
            zs = (
                f"({zs} + (CAST({w[i]!r} AS DOUBLE) * "
                f"((__x__[{i}] - CAST({mu[i]!r} AS DOUBLE)) / "
                f"CAST({sd[i]!r} AS DOUBLE))))"
            )
        z = F.expr(zs)
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        r = p - F.col("__y__")
        xs = [
            (F.col("__x__")[i] - F.lit(mu[i])) / F.lit(sd[i]) for i in range(D)
        ]
        gaggs = [
            F.sum((r * xs[i]).cast("decimal(38,18)")).alias(f"g{i}")
            for i in range(D)
        ]
        gaggs.append(F.sum(r.cast("decimal(38,18)")).alias("gb"))
        gaggs.append(
            F.sum(
                (
                    -(
                        F.col("__y__") * F.log(F.greatest(p, F.lit(1e-12)))
                        + (1 - F.col("__y__"))
                        * F.log(F.greatest(1 - p, F.lit(1e-12)))
                    )
                ).cast("decimal(38,18)")
            ).alias("loss")
        )
        grow = X.agg(*gaggs).first()
        for i in range(D):
            w[i] -= lr * float(grow[f"g{i}"]) / cnt
        b -= lr * float(grow["gb"]) / cnt
        losses.append(float(grow["loss"]) / cnt)
    w_raw = [w[i] / sd[i] for i in range(D)]
    b_raw = b - sum(w[i] * mu[i] / sd[i] for i in range(D))
    if stats is not None:
        stats["loss"] = losses
        stats["mu"] = mu
        stats["sd"] = sd
    return w_raw, b_raw


def quality_logreg_score(
    df: DataFrame,
    weights: list[float],
    bias: float,
    dim: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a trained quality model: (id, quality_logit, accepted).
    One projection over the same feature exprs the trainer used;
    the logit is the left-associated literal dot (bit-portable — no
    transcendental in the inference path, sigmoid is monotone so
    thresholding the LOGIT at 0 is thresholding the probability at
    0.5). At 100 TB this rides the corpus scan like every other
    per-doc feature."""
    X = quality_features(df, dim=dim, text_col=text_col, id_col=id_col)
    z = F.expr(_logit_expr(weights, bias))
    return X.select(
        F.col(id_col),
        z.alias("quality_logit"),
        (z > 0).alias("accepted"),
    )
