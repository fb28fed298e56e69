"""Text analysis for training-data pipelines: language-ID, quality
scoring, token counting, document fingerprinting.

All built from JVM-side string/array expressions so they survive
whole-stage codegen; the heuristics are intentionally simple (n-gram /
stopword statistics) — the point is the distributed shape, not
linguistic accuracy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashes import fast_hash, portable_hash_expr

# tiny per-language stopword lists for the n-gram/stopword heuristic
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une"],
    "es": ["el", "la", "los", "y", "es", "un", "una"],
    "zh": ["的", "是", "了", "在", "和", "有", "我"],
}
STOPWORDS_EN = LANG_STOPWORDS["en"]


def tokens_expr(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ")


def token_count(df: DataFrame, col: str, out_col: str = "n_tokens") -> DataFrame:
    """Whitespace token count plus a BPE-ish subword estimate
    (chars/4 heuristic used by tokenizer cost models)."""
    toks = tokens_expr(col)
    return df.withColumn(out_col, F.size(toks)).withColumn(
        "n_subwords_est", F.ceil(F.length(F.col(col)).cast("double") / F.lit(4.0)).cast("long")
    )


def _stopword_hits(col: str, words: list[str]) -> Column:
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens_expr(col), lambda t: F.array_contains(arr, t)))


def lang_id(df: DataFrame, col: str, out_col: str = "lang_pred") -> DataFrame:
    """Stopword-vote language ID with a deterministic tie-break (first
    language in table order wins ties)."""
    scores = {lang: _stopword_hits(col, words) for lang, words in LANG_STOPWORDS.items()}
    m = F.greatest(*scores.values())
    pred = F.lit(None).cast("string")
    # build reversed CASE chain: first lang in order wins ties
    expr = None
    for lang in LANG_STOPWORDS:
        cond = scores[lang] == m
        expr = F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
    pred = F.when(m > 0, expr).otherwise(F.lit("unknown"))
    return df.withColumn(out_col, pred)


def quality_score(df: DataFrame, col: str) -> DataFrame:
    """Length / punctuation / stopword-ratio quality features and a
    composite score in [0, 1]."""
    c = F.col(col)
    toks = tokens_expr(col)
    n_chars = F.length(c)
    n_toks = F.size(toks)
    # punctuation density via length-difference (portable, regex-free)
    stripped = c
    for p in [".", ",", "!", "?", ";", ":"]:
        stripped = F.replace(stripped, F.lit(p), F.lit(""))
    punct = n_chars - F.length(stripped)
    stop_hits = _stopword_hits(col, STOPWORDS_EN)
    avg_tok_len = (n_chars - (n_toks - 1)).cast("double") / n_toks.cast("double")
    stop_ratio = stop_hits.cast("double") / n_toks.cast("double")
    punct_ratio = punct.cast("double") / n_chars.cast("double")
    score = (
        F.least(n_toks.cast("double") / F.lit(64.0), F.lit(1.0)) * F.lit(0.4)
        + F.least(stop_ratio * F.lit(5.0), F.lit(1.0)) * F.lit(0.3)
        + (F.lit(1.0) - F.least(punct_ratio * F.lit(10.0), F.lit(1.0))) * F.lit(0.3)
    )
    return (
        df.withColumn("n_chars_q", n_chars.cast("long"))
        .withColumn("n_tokens_q", n_toks.cast("long"))
        .withColumn("avg_token_len", avg_tok_len)
        .withColumn("stopword_ratio", stop_ratio)
        .withColumn("punct_ratio", punct_ratio)
        .withColumn("quality", score)
    )


def fingerprint(df: DataFrame, col: str, id_col: str, hash_mode: str = "fast") -> DataFrame:
    """Whole-document rolling-hash fingerprint (content identity key)."""
    h = portable_hash_expr(col) if hash_mode == "portable" else fast_hash(F.col(col))
    return df.select(F.col(id_col), h.alias("fingerprint"))


def url_canonicalize(df: DataFrame, col: str, out_col: str = "url_canon") -> DataFrame:
    """Canonicalize URLs for webtext dedup keying (standard crawl
    pre-step; reference analog: none — CDM keys rows as-is):

    1. strip the fragment,
    2. lowercase scheme://host (path/query case preserved),
    3. drop default ports (:80 for http, :443 for https),
    4. sort query parameters (stable content-addressing for
       param-order-permuted duplicates).

    Pure map-side string expressions, RE2-compatible regexes (no
    lookaround) so a DuckDB oracle can replay them verbatim.
    """
    u = F.regexp_replace(F.col(col), "#.*", "")
    prefix = F.regexp_extract(u, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*", 0)
    rest = u.substr(F.length(prefix) + F.lit(1), F.length(u))
    low = F.concat(F.lower(prefix), rest)
    # default-port group matches path, query, or end-of-string forms so
    # https://a.com:443?x=1 also dedups against its portless twin
    low = F.regexp_replace(low, "^(https://[^/?:]*):443(/|\\?|$)", "$1$2")
    low = F.regexp_replace(low, "^(http://[^/?:]*):80(/|\\?|$)", "$1$2")
    base = F.regexp_extract(low, "^[^?]*", 0)
    q = low.substr(F.length(base) + F.lit(2), F.length(low))
    sorted_q = F.array_join(F.array_sort(F.split(q, "&")), "&")
    canon = F.when(
        F.length(low) > F.length(base), F.concat(base, F.lit("?"), sorted_q)
    ).otherwise(base)
    return df.withColumn(out_col, canon)


# PII scrub rules, applied in order; counts are taken on the text as it
# stands when each rule runs (an email's host is scrubbed as part of the
# email, never double-counted as an IP). RE2-compatible (no lookaround,
# no backrefs) so a DuckDB oracle replays the identical patterns.
PII_RULES: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\b\+?\d{3}[- ]\d{3}[- ]\d{4}\b", "<PHONE>"),
]


def pii_scrub(df: DataFrame, col: str, out_col: str = "text_scrubbed") -> DataFrame:
    """PII redaction for webtext training corpora (emails, IPv4
    addresses, NANP-style phone numbers → typed placeholder tokens),
    with per-category hit counts.

    Pure map-side regexp expressions — zero shuffle, survives
    whole-stage codegen at any corpus size. Patterns are deliberately
    RE2-safe and conservative (precision over recall): a corpus-scale
    scrubber must never catastrophically backtrack, so no lookaround
    and bounded quantifiers only.
    """
    cur = F.col(col)
    counts: list[Column] = []
    for name, pat, repl in PII_RULES:
        counts.append(F.regexp_count(cur, F.lit(pat)).cast("long").alias(f"n_{name}"))
        cur = F.regexp_replace(cur, pat, repl)
    return df.select(
        "*", *counts, cur.alias(out_col)
    )


def _raw_grams(toks: Column, n: int) -> Column:
    """Non-distinct word n-grams (repetition measurement needs the
    multiset, unlike dedup's distinct shingles)."""
    count = F.size(toks) - F.lit(n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), count),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.when(count >= 1, grams).otherwise(F.array().cast("array<string>"))


def repetition_stats(
    df: DataFrame,
    col: str,
    min_words: int = 10,
    max_dup_2gram_frac: float = 0.75,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
) -> DataFrame:
    """Gopher/MassiveText-style repetition and shape screens: word
    count, mean word length, duplicate 2-gram / 3-gram fractions, and
    the composite keep flag.

    All map-side HOF array folds over the token array — no shuffle, no
    per-doc explode; the duplicate-gram fraction is size(grams) −
    size(array_distinct(grams)) over the raw (multiset) gram list.
    Ratios are a single int/int double division each, bit-identical
    across engines.
    """
    toks = tokens_expr(col)
    n_words = F.size(toks)
    sum_wl = F.aggregate(toks, F.lit(0), lambda acc, w: acc + F.length(w))
    g2 = _raw_grams(toks, 2)
    g3 = _raw_grams(toks, 3)
    dup2 = F.size(g2) - F.size(F.array_distinct(g2))
    dup3 = F.size(g3) - F.size(F.array_distinct(g3))
    mean_wl = sum_wl.cast("double") / n_words.cast("double")
    frac2 = F.when(F.size(g2) > 0, dup2.cast("double") / F.size(g2).cast("double")).otherwise(F.lit(0.0))
    frac3 = F.when(F.size(g3) > 0, dup3.cast("double") / F.size(g3).cast("double")).otherwise(F.lit(0.0))
    keep = (
        (n_words >= F.lit(min_words))
        & (mean_wl >= F.lit(min_mean_word_len))
        & (mean_wl <= F.lit(max_mean_word_len))
        & (frac2 <= F.lit(max_dup_2gram_frac))
    )
    return (
        df.withColumn("n_words", n_words.cast("long"))
        .withColumn("mean_word_len", mean_wl)
        .withColumn("dup_2gram_frac", frac2)
        .withColumn("dup_3gram_frac", frac3)
        .withColumn("keep", keep)
    )


def host_quota(
    df: DataFrame,
    host_col: str,
    order_col: str,
    id_col: str,
    k: int,
) -> DataFrame:
    """Per-host document quota (CCNet-style): keep the top-k documents
    of each host, ranked by a quality proxy with a deterministic id
    tie-break — caps boilerplate-heavy domains from dominating a crawl.

    One shuffle on the host key. Scale note: unlike a per-language
    partition (few huge groups — see webtext_budget's two-phase fix),
    hosts number ~10^8 on a real crawl with small per-host groups, so
    `Window.partitionBy(host)` is the RIGHT shape here: fine-grained,
    naturally balanced, and the rank cutoff prunes inside each task.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(host_col).orderBy(F.col(order_col).desc(), F.col(id_col))
    return (
        df.withColumn("host_rank", F.row_number().over(w).cast("long"))
        .where(F.col("host_rank") <= F.lit(k))
        .select(host_col, id_col, "host_rank", order_col)
    )


def contamination_screen(
    corpus: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Benchmark-contamination screen: corpus documents sharing any word
    n-gram with an evaluation set, with the count of distinct shared
    grams — the decontamination step of a training-data pipeline
    (n-gram-overlap screening as popularized by public LM training
    reports).

    Scale shape: eval sets are small (benchmarks run thousands of
    documents, the corpus runs billions), so the eval gram set is
    DISTINCTed and broadcast; corpus grams are generated map-side
    (explode of an array expression, no shuffle) and probed against the
    broadcast hash relation in place. Only HIT rows — contaminated
    (doc, gram) pairs, rare by construction — reach the final
    per-document aggregate, so the one real shuffle is proportional to
    contamination, not corpus size.
    """
    from .dedup import word_shingles

    eval_grams = (
        eval_docs.select(F.explode(word_shingles(text_col, n)).alias("_g"))
        .distinct()
    )
    corpus_grams = corpus.select(
        id_col, F.explode(word_shingles(text_col, n)).alias("_g")
    )
    return (
        corpus_grams.join(F.broadcast(eval_grams), "_g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    tok_col: str = "n_tokens",
    capacity: int = 2048,
    n_buckets: int = 32,
) -> DataFrame:
    """Concat-and-chunk sequence packing for training-example assembly:
    documents concatenated in deterministic ``id_col`` order and cut
    into ``capacity``-token bins. Emits each doc's bin id, its token
    offset inside the bin, and whether it spills into the next bin —
    exactly what a downstream example-writer needs to materialize
    packed training sequences.

    The defining quantity is the EXCLUSIVE global prefix sum of token
    counts in id order — the same serializing shape ``budget_cutoff``
    two-phases: a single ``Window.orderBy(id)`` funnels the whole
    corpus through one task. Same fix, id-space flavor:

    1. quantize ids into ``n_buckets`` ORDER-RESPECTING range buckets
       (span from one bounded max-id agg; a corpus with pathological id
       distribution would swap in ``repartitionByRange``'s sampler);
    2. per-bucket token totals (tiny), exclusive running sum over the
       <=B bucket rows = bucket offsets, broadcast back;
    3. within-bucket exclusive running sum + offset == the exact global
       prefix sum; bin arithmetic is then row-local integer math.
    """
    from pyspark.sql.window import Window

    mx = df.agg(F.max(F.col(id_col))).first()[0]
    if mx is None:
        mx = 0
    span = max(1, (int(mx) + n_buckets) // n_buckets)
    toks = df.select(
        F.col(id_col), F.col(tok_col).cast("long").alias("_nt")
    ).withColumn("_pb", (F.col(id_col).cast("long") / F.lit(span)).cast("long"))
    per_bucket = toks.groupBy("_pb").agg(F.sum("_nt").alias("_bt"))
    w_off = (
        Window.orderBy("_pb").rowsBetween(Window.unboundedPreceding, -1)
    )  # <=n_buckets rows total: a deliberate tiny single-task window
    offsets = per_bucket.withColumn(
        "_off", F.coalesce(F.sum("_bt").over(w_off), F.lit(0))
    )
    w_in = (
        Window.partitionBy("_pb")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cb = F.coalesce(F.sum("_nt").over(w_in), F.lit(0)) + F.col("_off")
    return (
        toks.join(F.broadcast(offsets.select("_pb", "_off")), "_pb")
        .withColumn("_cb", cb)
        .select(
            F.col(id_col),
            F.col("_nt").alias(tok_col),
            F.expr(f"_cb div {capacity}").alias("bin_id"),
            F.pmod(F.col("_cb"), F.lit(capacity)).cast("long").alias("bin_offset"),
            (F.pmod(F.col("_cb"), F.lit(capacity)) + F.col("_nt") > capacity).alias(
                "spans_next"
            ),
        )
    )


# LCG increment for the sampler's id scramble (SPACED_MULT/SPACED_MOD
# are the shared multiplicative-scramble constants from similarity.py —
# the plain polynomial string hash ranks short numeric ids
# monotonically, the pitfall recorded in SCALE.md)
SAMPLE_INC = 12345


def temperature_sample(
    df: DataFrame, lang_col: str = "lang", id_col: str = "doc_id"
) -> DataFrame:
    """Temperature-based language rebalancing (multilingual-corpus
    downsampling a la XLM-R/mC4): keep each document with probability
    ``(N_min / N_lang) ** (1 - alpha)`` so surviving counts scale as
    ``N_lang ** alpha``, with the smallest language kept whole.

    Deterministic and engine-portable: the per-doc uniform draw is an
    LCG scramble of the id (``u = ((id % 2^32) * mult + inc) % 2^32 /
    2^32``), and alpha is fixed at 0.5 so the keep predicate is the
    pow-free ``u*u < N_min/N_lang`` — one IEEE double multiply + one
    int/int division, bit-identical across Spark and the oracle
    (arbitrary alpha would need ``pow``, whose last-bit behavior is
    engine-specific).

    Scale: one tiny groupBy (#langs rows) broadcast back; the keep
    decision is map-side row-local. Zero corpus-sized shuffles."""
    from pyspark.sql.window import Window

    from .similarity import SPACED_MOD, SPACED_MULT

    counts = df.groupBy(lang_col).agg(F.count(F.lit(1)).alias("_nl"))
    counts = counts.withColumn(
        "_nmin", F.min("_nl").over(Window.partitionBy())
    )  # global window over the <=#langs-row counts frame only
    rate = F.col("_nmin").cast("double") / F.col("_nl").cast("double")
    u = (
        F.pmod(
            F.pmod(F.col(id_col), F.lit(SPACED_MOD)) * F.lit(SPACED_MULT)
            + F.lit(SAMPLE_INC),
            F.lit(SPACED_MOD),
        ).cast("double")
        / F.lit(float(SPACED_MOD))
    )
    return df.join(F.broadcast(counts), lang_col).select(
        F.col(id_col),
        F.col(lang_col),
        rate.alias("sample_rate"),
        ((u * u) < rate).alias("keep"),
    )


def bigram_counts(
    df: DataFrame, col: str = "text", top_k: int = 50
) -> DataFrame:
    """Corpus-wide adjacent-token pair statistics — the counting step
    of a BPE/WordPiece merge iteration (vocabulary building over a
    training corpus).

    Shape at scale: the pair explosion is map-side (`zip_with` of the
    token array against its own tail — no self-join), the count is one
    shuffle with map-side partial aggregation over distinct pairs, and
    the global top-k plans as TakeOrderedAndProject (per-partition
    heap + driver merge of k rows — never a full sort). Deterministic
    tie-break (count DESC, tok_a, tok_b) so the k-boundary is stable
    across engines.
    """
    pairs = (
        df.select(tokens_expr(col).alias("_t"))
        .where(F.size("_t") >= 2)
        .select(
            F.expr(
                "explode(zip_with(slice(_t, 1, size(_t) - 1),"
                " slice(_t, 2, size(_t) - 1),"
                " (a, b) -> struct(a AS tok_a, b AS tok_b))) AS p"
            )
        )
        .select("p.tok_a", "p.tok_b")
    )
    return (
        pairs.groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy(F.col("n_pairs").desc(), "tok_a", "tok_b")
        .limit(top_k)
    )


def token_quantile_bins(
    df: DataFrame,
    group_col: str = "lang",
    tok_col: str = "n_tokens",
    bin_width: int = 16,
    percentiles: tuple[int, ...] = (50, 90, 99),
) -> DataFrame:
    """Per-group token-length quantiles via a fixed-width histogram —
    the scale-safe quantile shape. A naive per-group exact quantile
    sorts every row of the group through one task (the same
    serializing window `budget_cutoff` two-phases); this instead
    reduces the corpus to a (group × bin) histogram in one
    partial-aggregated shuffle, then runs the cumulative walk on the
    tiny histogram frame (<= n_bins rows per group). Reported value is
    the inclusive upper edge of the bin holding the percentile;
    integer math throughout, so bit-identical across engines.
    """
    from pyspark.sql.window import Window

    binned = df.select(
        F.col(group_col),
        F.expr(f"CAST({tok_col} AS BIGINT) div {bin_width}").alias("_bin"),
    )
    hist = binned.groupBy(group_col, "_bin").agg(F.count(F.lit(1)).alias("_n"))
    wcum = (
        Window.partitionBy(group_col)
        .orderBy("_bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )  # over the histogram frame only: <= n_bins rows per group
    wall = Window.partitionBy(group_col)
    h = hist.withColumn("_cum", F.sum("_n").over(wcum)).withColumn(
        "_tot", F.sum("_n").over(wall)
    )
    aggs = [F.max("_tot").cast("long").alias("n_docs")]
    for p in percentiles:
        k = F.expr(f"(_tot * {p} + 99) div 100")  # ceil(p% of total), integer
        sel = F.min(F.when(F.col("_cum") >= k, F.col("_bin")))
        aggs.append(
            (sel * bin_width + (bin_width - 1)).cast("long").alias(f"p{p}_hi")
        )
    return h.groupBy(group_col).agg(*aggs)


def span_dedup(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    span_words: int = 8,
    hash_mode: str = "fast",
) -> DataFrame:
    """C4-style span-level exact dedup: cut each document into
    non-overlapping ``span_words``-token spans, hash every span, and
    award each distinct span to its FIRST occurrence corpus-wide
    (lowest ``(id, position)``). Reports per-document span retention —
    the statistic C4's three-sentence dedup pass keeps while rewriting
    documents.

    Shape at scale: the span fanout is map-side (sequence + slice HOF,
    no self-join); ownership is ONE shuffle+sort partitioned by the
    span hash — ~n_tokens/span_words fine-grained naturally-balanced
    keys, never an all-pairs comparison; the per-doc rollup is a second
    partial-aggregated shuffle. 10^10 docs => ~10^12 span rows of a few
    bytes each, far below the pair-explosion a join-based dedup risks.
    """
    from pyspark.sql.window import Window

    spans = _span_frame(df, col, id_col, span_words, hash_mode)
    w_first = Window.partitionBy("_h").orderBy(id_col, "span_pos")
    owned = spans.withColumn(
        "_keep", F.row_number().over(w_first) == 1
    )
    return owned.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum(F.col("_keep").cast("long")).cast("long").alias("n_kept"),
    ).select(
        F.col(id_col),
        "n_spans",
        "n_kept",
        (F.col("n_spans") - F.col("n_kept")).cast("long").alias("n_dropped"),
        (
            (F.col("n_spans") - F.col("n_kept")).cast("double")
            / F.col("n_spans").cast("double")
        ).alias("dup_frac"),
    )


def doc_chunks(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Overlapping token-window chunking (context-window packing /
    retrieval-index prep): document -> (chunk_id, token offset, chunk
    text) rows of at most ``chunk_tokens`` tokens, successive chunks
    ``stride`` tokens apart (``chunk_tokens - stride`` overlap).

    Chunk count is ``1 + ceil(max(n - chunk_tokens, 0) / stride)`` so
    the last chunk always reaches the end of the document and a doc
    shorter than one window yields exactly one chunk. Pure map-side
    fanout — sequence + slice HOFs inside whole-stage codegen, zero
    shuffles, embarrassingly parallel at any scale.
    """
    if not 1 <= stride <= chunk_tokens:
        # a larger stride would skip tokens and start trailing chunks
        # past the end of the document
        raise ValueError(f"stride must be in [1, chunk_tokens={chunk_tokens}], got {stride}")
    toks = df.select(F.col(id_col), tokens_expr(col).alias("_w")).where(
        F.size("_w") > 0
    )
    n_chunks = F.expr(
        f"1 + (CASE WHEN size(_w) > {chunk_tokens}"
        f" THEN (size(_w) - {chunk_tokens} + {stride - 1}) div {stride}"
        f" ELSE 0 END)"
    )
    return toks.select(
        F.col(id_col),
        F.size("_w").cast("long").alias("n_tokens"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), (n_chunks - 1).cast("int")),
                lambda i: F.array_join(
                    F.slice(F.col("_w"), i * stride + 1, F.lit(chunk_tokens)),
                    " ",
                ),
            )
        ).alias("chunk_id", "chunk_text"),
    ).select(
        F.col(id_col),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        (F.col("chunk_id") * stride).cast("long").alias("chunk_start"),
        F.least(
            F.lit(chunk_tokens).cast("long"),
            F.col("n_tokens") - F.col("chunk_id") * stride,
        ).cast("long").alias("n_chunk_tokens"),
        "chunk_text",
    )


# LCG increments for the deterministic split / shuffle draws (same
# multiplicative scramble as the sampler; distinct increments give
# independent streams)
SPLIT_INC = 24680
SHARD_INC = 98765


def train_split(
    df: DataFrame,
    id_col: str = "doc_id",
    train_cut: float = 0.9,
    val_cut: float = 0.95,
) -> DataFrame:
    """Deterministic train/val/test assignment by id scramble: the
    per-doc uniform draw is the LCG scramble of the id (hash-stratified
    across any grouping in expectation), thresholded at ``train_cut`` /
    ``val_cut``. Both cuts are ABSOLUTE thresholds (not a train + val
    sum — a Python-side ``0.9 + 0.05`` is 0.9500000000000001, not the
    0.95 an oracle SQL literal parses to). Fully map-side — zero
    shuffles, reproducible across runs, engines and cluster sizes
    (no ``rand()``), and stable under corpus growth: a doc's split
    never changes when neighbors are added or removed.
    """
    from .similarity import SPACED_MOD, SPACED_MULT

    u = (
        F.pmod(
            F.pmod(F.col(id_col), F.lit(SPACED_MOD)) * F.lit(SPACED_MULT)
            + F.lit(SPLIT_INC),
            F.lit(SPACED_MOD),
        ).cast("double")
        / F.lit(float(SPACED_MOD))
    )
    return df.withColumn("_u", u).withColumn(
        "split",
        F.when(F.col("_u") < F.lit(train_cut), F.lit("train"))
        .when(F.col("_u") < F.lit(val_cut), F.lit("val"))
        .otherwise(F.lit("test")),
    ).drop("_u")


def shuffle_shards(
    df: DataFrame, id_col: str = "doc_id", n_shards: int = 64
) -> DataFrame:
    """Deterministic global shuffle for training-order assembly: scramble
    the id, route to ``shard = scramble % n_shards``, order within the
    shard by the scramble — the distributed equivalent of "shuffle the
    corpus and write N files", reproducible with no ``rand()``.

    One shuffle+sort partitioned by shard. Scale rule: size n_shards to
    the target training-file row count (10^10 docs / 10^5-doc files =>
    10^5 shards), so each window partition is one output file's worth —
    fine-grained and naturally balanced because the scramble
    equidistributes ids.
    """
    from pyspark.sql.window import Window

    from .similarity import SPACED_MOD, SPACED_MULT

    key = F.pmod(
        F.pmod(F.col(id_col), F.lit(SPACED_MOD)) * F.lit(SPACED_MULT)
        + F.lit(SHARD_INC),
        F.lit(SPACED_MOD),
    )
    w = Window.partitionBy("shard").orderBy("_k", id_col)
    return (
        df.withColumn("_k", key)
        .withColumn("shard", F.pmod(F.col("_k"), F.lit(n_shards)).cast("long"))
        .withColumn("shard_pos", F.row_number().over(w).cast("long"))
        .drop("_k")
    )


def host_dup_screen(
    df: DataFrame,
    col: str = "text",
    host_col: str = "source",
    min_docs: int = 5,
    max_dup_frac: float = 0.5,
    hash_mode: str = "fast",
) -> DataFrame:
    """Host-level spam screen (CCNet/RefinedWeb-style source filtering):
    per host, the exact-duplicate fraction of its documents (by content
    hash); hosts with ``>= min_docs`` docs and a duplicate fraction
    above ``max_dup_frac`` are flagged — mirror-heavy and
    template-spam domains that per-document dedup alone underweights.

    Two partial-aggregated shuffles, both fine-grained: (host, hash)
    then host. Distinct-count is exact via the two-level group-by (an
    approx_count_distinct would break oracle parity); at 10^10 docs the
    (host, hash) frame is at most corpus-sized and combines map-side.
    """
    hash_fn = fast_hash if hash_mode == "fast" else portable_hash_expr
    per_text = (
        df.select(F.col(host_col), hash_fn(F.col(col)).alias("_h"))
        .groupBy(host_col, "_h")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    per_host = per_text.groupBy(host_col).agg(
        F.sum("_n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_uniq"),
    )
    dup_frac = (
        (F.col("n_docs") - F.col("n_uniq")).cast("double")
        / F.col("n_docs").cast("double")
    )
    return per_host.select(
        F.col(host_col),
        "n_docs",
        "n_uniq",
        dup_frac.alias("dup_frac"),
        (
            (F.col("n_docs") >= min_docs) & (dup_frac > F.lit(max_dup_frac))
        ).alias("is_spam"),
    )


def winnow_fingerprint(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    k: int = 6,
    window: int = 4,
    hash_mode: str = "fast",
) -> DataFrame:
    """Winnowing document fingerprint (the MOSS local fingerprinting
    scheme, Schleimer/Wilkerson/Aiken SIGMOD'03): hash every character
    k-gram, take the minimum hash of each sliding window of ``window``
    consecutive gram hashes, and keep the sorted distinct minima as the
    document's sketch. Guarantees any shared substring of length
    >= k + window - 1 contributes a shared sketch entry — positionally
    robust, unlike a whole-document hash.

    Pure map-side HOF folds (sequence + substring hash + sliding
    minima): zero shuffles, embarrassingly parallel. Docs shorter than
    ``k`` characters are excluded (no full gram exists).

    The per-window minimum is a SPARSE-TABLE DOUBLING chain of
    ``zip_with(T, shift(T, d), least)`` steps, NOT a
    ``transform(sequence(...), j -> array_min(slice(grams, j, w)))``
    lambda: a higher-order-function lambda body re-evaluates its
    subtrees PER ELEMENT, so referencing the gram array inside the
    lambda recomputes the whole O(m*k) gram fold for every window —
    O(m^2*k) per document (measured ~500 s for 500 docs vs ~4 s for
    this form). The doubling chain references the gram array a
    constant ~w times per ROW instead: O(w*m*k).
    """
    c = F.col(col)
    gram_hash = (
        (lambda g: F.abs(F.xxhash64(g)))
        if hash_mode == "fast"
        else portable_hash_expr
    )
    m = F.length(c) - F.lit(k - 1)  # number of full k-grams
    grams = F.transform(
        F.sequence(F.lit(1), m.cast("int")),
        lambda i: gram_hash(F.substring(c, i, F.lit(k))),
    )

    # sliding min of width `window` via sparse-table doubling:
    # T_d[j] = min(hashes[j .. j+d)); min[j, j+w) = least(T_d[j],
    # T_d[j + w - d]) once d >= w/2. zip_with pads the shifted copy
    # with nulls and F.least skips nulls, which exactly handles the
    # m < window tail (partial windows collapse to the full-array min,
    # matching the oracle's truncated list_slice).
    big = F.lit(1 << 30)
    t_arr = grams
    width = 1
    while width * 2 <= window:
        t_arr = F.zip_with(
            t_arr, F.slice(t_arr, width + 1, big), lambda a, b: F.least(a, b)
        )
        width *= 2
    if window > width:
        t_arr = F.zip_with(
            t_arr,
            F.slice(t_arr, (window - width) + 1, big),
            lambda a, b: F.least(a, b),
        )
    n_win = F.greatest(m - F.lit(window - 1), F.lit(1)).cast("int")
    return df.where(F.length(c) >= k).select(
        F.col(id_col),
        m.cast("long").alias("n_grams"),
        F.array_sort(F.array_distinct(F.slice(t_arr, 1, n_win))).alias("sketch"),
    ).withColumn("sketch_size", F.size("sketch").cast("long"))


def _span_frame(
    df: DataFrame, col: str, id_col: str, span_words: int, hash_mode: str
) -> DataFrame:
    """(id, span_pos, _h) fanout shared by span_dedup/span_novelty."""
    hash_fn = fast_hash if hash_mode == "fast" else portable_hash_expr
    toks = df.select(F.col(id_col), tokens_expr(col).alias("_w")).where(
        F.size("_w") > 0
    )
    n_sp = F.expr(f"(size(_w) + {span_words - 1}) div {span_words}")
    return toks.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), (n_sp - 1).cast("int")),
                lambda i: F.array_join(
                    F.slice(F.col("_w"), i * span_words + 1, F.lit(span_words)),
                    " ",
                ),
            )
        ).alias("span_pos", "_span"),
    ).withColumn("_h", hash_fn("_span"))


def span_novelty(
    new_docs: DataFrame,
    index_docs: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    span_words: int = 8,
    hash_mode: str = "fast",
) -> DataFrame:
    """CDC-shaped incremental span dedup: for each ARRIVING document,
    how many of its spans are novel vs the accumulated corpus index —
    the per-batch novelty screen an incremental C4-style pipeline runs
    before admitting a crawl snapshot's documents.

    The index side reduces to DISTINCT span hashes (narrow longs);
    the arriving epoch left-joins the index on the span hash —
    fine-grained uniformly-hashed keys, epoch x index never paired
    beyond the equi-join, and the index is never re-scanned per doc.
    Per-epoch cost is O(epoch spans + matched index spans).
    """
    new_spans = _span_frame(new_docs, col, id_col, span_words, hash_mode)
    idx = (
        _span_frame(index_docs, col, id_col, span_words, hash_mode)
        .select("_h").distinct().withColumn("_seen", F.lit(1))
    )
    joined = new_spans.join(idx, "_h", "left")
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum(F.when(F.col("_seen").isNull(), 1).otherwise(0)).cast("long").alias(
            "n_novel"
        ),
    ).withColumn(
        "novelty_frac",
        F.col("n_novel").cast("double") / F.col("n_spans").cast("double"),
    )


def vocab_coverage(
    df: DataFrame, col: str = "text", top_k: int = 100
) -> DataFrame:
    """Heavy-hitter vocabulary coverage: what fraction of all token
    occurrences the top-k most frequent tokens cover — the
    tokenizer-sizing statistic (OOV-rate ceiling for a k-entry vocab).

    Token counts are one partial-aggregated shuffle; the top-k plans as
    TakeOrderedAndProject (per-partition heap, k-row driver merge, never
    a full sort); the grand total partial-aggregates to a single row.
    Deterministic k-boundary via (count DESC, token) tie-break.
    """
    counts = (
        df.select(F.explode(tokens_expr(col)).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = counts.orderBy(F.col("n").desc(), "tok").limit(top_k)
    covered = top.agg(F.sum("n").cast("long").alias("covered_tokens"))
    total = counts.agg(F.sum("n").cast("long").alias("total_tokens"))
    return covered.crossJoin(total).select(
        F.lit(top_k).cast("long").alias("vocab_size"),
        "covered_tokens",
        "total_tokens",
        (
            F.col("covered_tokens").cast("double")
            / F.col("total_tokens").cast("double")
        ).alias("coverage"),
    )
