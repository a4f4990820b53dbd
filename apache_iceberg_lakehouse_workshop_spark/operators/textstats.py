"""Text-analysis operators over a document corpus.

These generalize the reference's text-enrichment pattern (free-text VARCHAR
columns enriched in the silver layer — ``/root/reference/industry-examples/
logistics_AI.sql:47-57``, ``media_ai.sql:42-47``) into the deterministic,
non-LLM text operators a large-scale training-data pipeline needs:
tokenization, language-ID, quality scoring, fingerprinting.

Everything here is built from JVM-side ``pyspark.sql.functions`` (no Python
UDFs) so it stays inside WholeStageCodegen and scales linearly with input
splits — at 100 TB these are embarrassingly parallel map-only stages with no
shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deliberately small and deterministic; real deployments swap in
# fastText — the *plumbing* (map-only, codegen-friendly) is the point.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "se", "no"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "une"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "ein", "ist"],
}


def normalized_text(col: Column) -> Column:
    """Lowercase, strip non [a-z ] chars, collapse whitespace, trim."""
    c = F.lower(col)
    c = F.regexp_replace(c, "[^a-z ]", " ")
    c = F.regexp_replace(c, " +", " ")
    return F.trim(c)


def tokens(col: Column) -> Column:
    """Whitespace tokens of the normalized text (array<string>).

    Computed as split-on-non-letter-RUNS + array_remove of empties:
    identical arrays to normalize-then-split-then-filter (a maximal
    ``[^a-z]+`` run is exactly one separator; leading/trailing runs yield
    the empties array_remove drops), with ONE regex pass over the text
    instead of three and no interpreted higher-order lambda —
    ``F.filter``'s per-element interpreted eval never enters whole-stage
    codegen, ``array_remove`` does."""
    return F.array_remove(F.split(F.lower(col), "[^a-z]+"), "")


def token_count(col: Column) -> Column:
    return F.size(tokens(col)).cast("long")


def _fan_out(df: DataFrame, *cols: str) -> DataFrame:
    """Explode-amplification guard. A tokenize pass amplifies each doc row
    into ~10²–10³ token rows, so a doc frame that arrives in fewer
    partitions than the session has cores (one small parquet file, a
    broadcast crossJoin preserving its single input split) runs the whole
    tokenize+hash map stage on those few cores — the r10 t18 wall: an
    8.6M-token md5 stage planned as ONE task. Hash-rebalance the DOC rows
    (cheap — pre-explode, so only the raw text bytes move once) up to the
    default parallelism, keyed on ``cols`` so each doc's tokens stay
    co-partitioned for map-side combine. Inputs already at least that
    wide pass through untouched — at 100 TB the scan is already thousands
    of tasks and this never fires.

    Width is probed via ``inputFiles()`` (plan metadata), NOT
    ``rdd.getNumPartitions()`` — converting to RDD finalizes the physical
    plan and under AQE can eagerly execute a DERIVED input's upstream
    stages (similarity._widened learned this first). A derived frame
    (inputFiles()=[]) gets the rebalance unconditionally: a narrow
    doc-row shuffle is cheap insurance against the tokenize stage
    collapsing to one task."""
    p = max(2, df.sparkSession.sparkContext.defaultParallelism)
    try:
        n_files = len(df.inputFiles())
    except Exception:
        return df
    if n_files >= max(2, p // 2):
        return df
    return df.repartition(p, *[F.col(c) for c in cols]) if cols else df.repartition(p)


#: GPT-2-style pre-tokenization regex (contraction suffixes, letter runs,
#: digit runs, punctuation runs, whitespace runs) — the standard BPE
#: pre-split shape. Kept to constructs RE2 and Java regex share, so the
#: DuckDB oracle applies the identical pattern.
BPE_SPLIT_PATTERN = "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"


def bpe_token_count(col: Column) -> Column:
    """LLM-ish token estimate: count of BPE pre-tokenizer segments. Real
    BPE merges only split *within* these segments, so this upper-bounds a
    GPT-2-family token count at ~word granularity — the cheap, JVM-side
    signal a 100 TB pipeline can afford per document (an exact tokenizer
    is a vocab-file lookup inside the same map stage if needed)."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_SPLIT_PATTERN), 0)).cast("long")


def char_count(col: Column) -> Column:
    return F.length(col).cast("long")


def punct_ratio(col: Column) -> Column:
    """Fraction of characters that are punctuation (quality-score feature)."""
    n_punct = F.length(F.regexp_replace(col, "[^.,;:!?]", ""))
    return (n_punct.cast("double") / F.greatest(F.length(col), F.lit(1)).cast("double"))


def stopword_ratio(col: Column, lang: str = "en") -> Column:
    toks = tokens(col)
    sw = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
    n_sw = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return n_sw.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def quality_score(col: Column) -> Column:
    """Deterministic heuristic quality score in [0,1]: rewards reasonable
    length, penalizes punctuation soup and stopword-free gibberish.

    Mirrors the length/punct/stopword family of features used by public
    training-data pipelines (C4/Gopher rules)."""
    length_score = F.least(char_count(col).cast("double") / F.lit(500.0), F.lit(1.0))
    punct_penalty = F.least(punct_ratio(col) * 5.0, F.lit(1.0))
    sw_score = F.least(stopword_ratio(col) * 4.0, F.lit(1.0))
    raw = length_score * 0.5 + sw_score * 0.3 + (1.0 - punct_penalty) * 0.2
    return F.round(raw, 6)


def _hits_in(sw: Column):
    # single-arg lambda factory: a 2-arg lambda would be interpreted by
    # F.filter as the (element, index) signature
    return lambda t: F.array_contains(sw, t)


def lang_scores(col: Column) -> list[tuple[str, Column]]:
    """Per-language stopword-hit counts (the language-ID signal)."""
    toks = tokens(col)
    out = []
    for lang, words in LANG_STOPWORDS.items():
        sw = F.array(*[F.lit(w) for w in words])
        out.append((lang, F.size(F.filter(toks, _hits_in(sw)))))
    return out


def lang_id(col: Column) -> Column:
    """Argmax language by stopword hits; 'und' (undetermined) when no hits.

    Ties broken by fixed language order (en,es,fr,de) — deterministic."""
    scores = lang_scores(col)
    best_lang = F.lit("und")
    best_score = F.lit(0)
    # forward fold with strict '>' -> earliest language in dict order wins ties
    for lang, score in scores:
        take = score > best_score
        best_lang = F.when(take, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(take, score).otherwise(best_score)
    return best_lang


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of the whitespace-normalized text.

    The canonical near-dup-resistant variant (rolling hash over shingles)
    lives in dedup.py; this is the exact-content fingerprint used for
    content-addressed dedup joins at scale (hash join on a 32-char key
    instead of comparing multi-KB text blobs)."""
    return F.md5(F.concat_ws(" ", tokens(col)))


#: Dual polynomial-hash parameters (Rabin-Karp). Both moduli < 2^31 so the
#: multiply-accumulate stays exact in int64 on Spark AND DuckDB (the oracle
#: replays the identical fold with list_reduce) — acc*base + cp < 2^31 * 257
#: < 2^40, no overflow, no bigint promotion ambiguity.
_RH1_BASE, _RH1_MOD = 257, 2147483647      # 2^31 - 1 (Mersenne)
_RH2_BASE, _RH2_MOD = 131, 1000000007
_RH_COMBINE = 1073741824                   # 2^30: h1*2^30 + h2 < 2^62, fits int64


def _poly_merge(base: int, mod: int):
    # genuine 2-arg (acc, element) merge for F.aggregate — the (element,
    # index) reinterpretation gotcha applies to F.filter/F.transform only
    return lambda acc, x: (acc * F.lit(base) + x) % F.lit(mod)


def _codepoints(col: Column) -> Column:
    """array<long> of character codes. Inputs here are normalized_text
    output ([a-z ] only), so F.ascii == the full code point."""
    return F.transform(F.split(col, ""), lambda ch: F.ascii(ch).cast("long"))


def rolling_fingerprint(col: Column) -> Column:
    """Polynomial (Rabin-Karp) rolling-hash fingerprint of the normalized
    document, as one BIGINT: ``h1(text) * 2^30 + h2(text)`` over two
    independent (base, mod) pairs, so a single-hash collision doesn't
    produce a false duplicate. Unlike :func:`fingerprint` (md5, opaque),
    the polynomial form is *incrementally extendable*: a pipeline that
    appends text to a document can update the hash in O(delta) instead of
    rehashing the blob — the property 100 TB ingest pipelines use.

    Pure JVM fold (F.aggregate), map-only, no shuffle; bit-exact twin in
    DuckDB via list_reduce over the same codepoints."""
    s = F.concat_ws(" ", tokens(col))
    cps = _codepoints(s)
    zero = F.lit(0).cast("long")
    h1 = F.aggregate(cps, zero, _poly_merge(_RH1_BASE, _RH1_MOD))
    h2 = F.aggregate(cps, zero, _poly_merge(_RH2_BASE, _RH2_MOD))
    return F.when(F.length(s) == 0, zero).otherwise(
        h1 * F.lit(_RH_COMBINE) + h2
    ).cast("long")


def winnow_fingerprints(col: Column, k: int = 5, w: int = 4) -> Column:
    """MOSS-style winnowing fingerprint set (array<long>, sorted distinct):
    hash every k-gram of the normalized text with the Rabin-Karp polynomial
    above, then keep the minimum hash of each sliding window of ``w``
    consecutive k-gram hashes. Two documents sharing any substring of
    length >= k + w - 1 are guaranteed to share a fingerprint (the
    winnowing guarantee), which makes this the local-similarity complement
    to the doc-level :func:`rolling_fingerprint`: join on
    ``explode(winnow_fingerprints(text))`` to find plagiarism-style partial
    overlaps without an all-pairs comparison.

    All JVM-side array ops (transform/slice/aggregate/array_min), map-only.
    The k-gram pass is O(n*k) via slice+fold rather than the O(n) rolling
    update — at k<=8 that is 8 fused codegen ops per character, a fine
    trade for staying inside Tungsten instead of a Python UDF."""
    if k < 1 or w < 1:
        raise ValueError("k and w must be >= 1")
    cps = _codepoints(F.concat_ws(" ", tokens(col)))
    n = F.size(cps)
    zero = F.lit(0).cast("long")
    merge = _poly_merge(_RH1_BASE, _RH1_MOD)

    def _kgram_hash(i: Column) -> Column:
        return F.aggregate(F.slice(cps, i, k), zero, merge)

    hashes = F.when(n >= k, F.transform(
        F.sequence(F.lit(1), n - F.lit(k - 1)), _kgram_hash
    )).otherwise(F.array().cast("array<long>"))
    m = F.size(hashes)

    def _win_min(j: Column) -> Column:
        return F.array_min(F.slice(hashes, j, w))

    mins = (
        F.when(m >= w, F.transform(F.sequence(F.lit(1), m - F.lit(w - 1)), _win_min))
        # fewer than w k-grams: standard winnowing degenerates to min of all
        .when(m > 0, F.array(F.array_min(hashes)))
        .otherwise(F.array().cast("array<long>"))
    )
    return F.array_sort(F.array_distinct(mins))


def winnow_fingerprint_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """(id, fp) winnowing fingerprint ROWS — the scale form of
    :func:`winnow_fingerprints`, identical selection (same k-gram hashes,
    same window mins, distinct), built relationally:

    characters posexplode once, the k-gram Rabin-Karp hash becomes a sum
    of ``LEAD(c, j) * (base^(k-1-j) mod M)`` terms with one final pmod
    (congruent to the iterated fold, and every partial sum fits int64),
    and the w-window minimum is ``MIN(h) OVER (rows 0..w-1)``. One
    exchange on the doc id; the three window passes reuse its sort; every
    expression is whole-stage codegen. The array-lambda column form
    re-evaluates the whole k-gram array inside each window slice — O(n²k)
    interpreted per doc, ~100x slower on 300-char docs — keep it for
    ad-hoc column use on short strings only.
    """
    if k < 1 or w < 1:
        raise ValueError("k and w must be >= 1")
    s = F.concat_ws(" ", tokens(F.col(text_col)))
    chars = df.select(
        F.col(id_col).alias("id"), F.posexplode(F.split(s, "")).alias("pos", "ch")
    ).select("id", "pos", F.ascii("ch").cast("long").alias("c"))

    win = Window.partitionBy("id").orderBy("pos")
    acc = None
    for j in range(k):
        cj = F.col("c") if j == 0 else F.lead("c", j).over(win)
        term = cj * F.lit(pow(_RH1_BASE, k - 1 - j, _RH1_MOD))
        acc = term if acc is None else acc + term
    kg = (
        chars.select(
            "id",
            "pos",
            F.pmod(acc, F.lit(_RH1_MOD)).alias("h"),
            (F.lead("c", k - 1).over(win).isNotNull() if k > 1 else F.lit(True)).alias(
                "full"
            ),
        )
        .filter("full")
    )
    wmin = Window.partitionBy("id").orderBy("pos").rowsBetween(0, w - 1)
    wcnt = Window.partitionBy("id")
    mins = kg.select(
        "id",
        F.min("h").over(wmin).alias("fp"),
        F.count("*").over(wcnt).alias("m"),
        F.row_number().over(win.orderBy("pos")).alias("rn"),
    )
    full_windows = F.col("rn") <= F.col("m") - (w - 1)
    degenerate = (F.col("m") < w) & (F.col("rn") == 1)
    return mins.filter(full_windows | degenerate).select("id", "fp").distinct()


def ngram_contamination(
    train: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: training docs sharing any exact n-token
    gram with an eval/benchmark set -> (train_id, n_shared_grams,
    n_bench_docs).

    The standard pre-training hygiene pass (GPT-3 App. C / Llama style
    13-gram overlap, n is a knob): any training document that reproduces a
    full n-gram of a held-out benchmark is flagged so it can be dropped or
    the benchmark result annotated. The reference has no counterpart
    (SURVEY §2 north-star family T); this generalizes t7's winnowing
    overlap to the asymmetric train-vs-eval shape.

    Plan at 100 TB: token n-grams stream off posexplode + window LEAD
    (same reused-exchange trick as minhash shingles); the BENCH side is
    contractually tiny (benchmarks are MBs, corpora are TBs), so its
    distinct gram set broadcasts and the flagging join is map-side — the
    only shuffle over train-sized data is the per-doc window + final
    groupBy. Swap the broadcast for a bloom-filter prefilter + shuffle
    join if the benchmark suite ever outgrows executor memory. Gram
    equality is on the gram STRING here (exact, engine-portable for the
    oracle twin); at 100 TB join on xxhash64(gram) to keep the broadcast
    table narrow — a false positive needs a 64-bit collision.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")

    def grams(df: DataFrame, out_id: str) -> DataFrame:
        tok = df.select(
            F.col(id_col).cast("long").alias(out_id),
            F.posexplode(tokens(F.col(text_col))).alias("pos", "w"),
        )
        win = Window.partitionBy(out_id).orderBy("pos")
        lead_cols = [F.col("w")] + [F.lead("w", j).over(win) for j in range(1, n)]
        return (
            tok.select(
                out_id,
                (F.lead("w", n - 1).over(win).isNotNull() if n > 1 else F.lit(True)).alias("full"),
                F.concat_ws(" ", *lead_cols).alias("g"),
            )
            .filter("full")
            .select(out_id, "g")
        )

    tg = grams(train, "train_id")
    bg = grams(bench, "bench_id").distinct()  # small side: distinct then broadcast
    return (
        tg.join(F.broadcast(bg), "g")
        .groupBy("train_id")
        .agg(
            F.countDistinct("g").cast("long").alias("n_shared_grams"),
            F.countDistinct("bench_id").cast("long").alias("n_bench_docs"),
        )
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition quality signals per document:
    (id, n_tokens, dup_token_frac, top_bigram, top_bigram_frac).

    dup_token_frac = 1 - distinct/total tokens; top_bigram_frac = share of
    all token bigrams taken by the single most frequent one (ties break to
    the lexicographically smallest bigram, deterministic cross-engine).
    High values of either are the classic generated/boilerplate-text
    signature the Gopher rules (Rae et al. 2021, table A1) filter on.

    Plan at 100 TB: one posexplode of tokens, ONE exchange on the doc id
    that both the token-level aggregate and the bigram window+aggregate
    reuse, partial aggregation everywhere, join back on id — no Python,
    no all-token collect.
    """
    tok = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "w"),
    )
    tstats = tok.groupBy("id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.countDistinct("w").alias("n_distinct"),
    )
    win = Window.partitionBy("id").orderBy("pos")
    bg = (
        tok.select("id", F.concat_ws(" ", F.col("w"), F.lead("w").over(win)).alias("g"),
                   F.lead("w").over(win).isNotNull().alias("full"))
        .filter("full")
        .groupBy("id", "g")
        .agg(F.count("*").alias("c"))
    )
    top = bg.groupBy("id").agg(
        F.min_by("g", F.struct((-F.col("c")).alias("a"), F.col("g").alias("b"))).alias(
            "top_bigram"
        ),
        F.max("c").alias("top_c"),
        F.sum("c").alias("n_bigrams"),
    )
    return (
        tstats.join(top, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            F.round(
                F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_tokens"), 6
            ).alias("dup_token_frac"),
            "top_bigram",
            F.round(
                F.coalesce(
                    F.col("top_c").cast("double") / F.col("n_bigrams"), F.lit(0.0)
                ),
                6,
            ).alias("top_bigram_frac"),
        )
    )


#: PII detection patterns, applied IN ORDER with count-then-redact on the
#: progressively cleaned text: SSNs are matched (and tokenized away) before
#: the looser phone pattern can swallow them, and replacement tokens
#: contain no digits so later patterns cannot re-match inside them. The
#: regex subset used (char classes, bounded quantifiers) behaves
#: identically under Java regex (Spark) and RE2 (DuckDB/Trino), keeping
#: the pass engine-portable.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "<EMAIL>"),
    ("ssn", r"[0-9]{3}-[0-9]{2}-[0-9]{4}", "<SSN>"),
    ("phone", r"\+?[0-9][0-9()\- ]{7,}[0-9]", "<PHONE>"),
]


def pii_scrub(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """PII detection + redaction per document: (id, n_emails, n_ssns,
    n_phones, clean_len, redacted_md5) with the redacted text verifiable
    via its md5.

    The mandatory pre-release pass on any training corpus. Map-only,
    all JVM regex (codegen) — at 100 TB this runs at scan speed with zero
    shuffle; chain ``.withColumn(text_col, ...)`` variants of the same
    expressions to persist the redacted corpus itself.
    """
    red = F.col(text_col)
    out_counts = []
    for name, pat, token in PII_PATTERNS:
        out_counts.append(F.regexp_count(red, F.lit(pat)).cast("long").alias(f"n_{name}s"))
        red = F.regexp_replace(red, pat, token)
    return df.select(
        F.col(id_col).cast("long").alias(id_col),
        *out_counts,
        F.length(red).cast("long").alias("clean_len"),
        F.md5(red).alias("redacted_md5"),
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 16,
    stride: int = 12,
) -> DataFrame:
    """Split documents into overlapping token-window chunks:
    (id, chunk_id, n_tokens, chunk_text) — the context-window prep step of
    a training pipeline (chunk i covers tokens [i*stride, i*stride+window)
    of the normalized text; the final chunk may be short but never empty;
    docs shorter than one window yield exactly one chunk).

    Map-only: chunk starts come from a per-row sequence over the token
    array, exploded and sliced JVM-side — no shuffle, no UDF; a 100 TB
    corpus chunks at scan speed and the output partitioning inherits the
    input's. ``stride < window`` gives overlapping chunks (training
    redundancy), ``stride == window`` a partition.
    """
    if window < 1 or stride < 1:
        raise ValueError(f"window and stride must be >= 1, got {window}, {stride}")
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    # chunk count = max(1, ceil((n - window)/stride) + 1): the last chunk
    # starts at the smallest multiple of stride that still reaches the end,
    # so no tail chunk is ever fully contained in its predecessor; a doc
    # with n==0 tokens yields no chunks (nothing to train on)
    n_chunks = F.when(
        n > 0,
        F.greatest(
            F.lit(0),
            F.floor((n - window + stride - 1) / F.lit(float(stride))).cast("long"),
        )
        + 1,
    ).otherwise(F.lit(0))
    # sequence(0, -1) would generate a DESCENDING [0, -1] in Spark: an
    # empty doc must produce an empty start list, not phantom chunks
    starts = F.when(
        n_chunks > 0, F.sequence(F.lit(0).cast("long"), n_chunks - 1)
    ).otherwise(F.array().cast("array<long>"))
    ex = df.select(
        F.col(id_col).cast("long").alias(id_col),
        toks.alias("__toks"),
        F.explode(starts).alias("chunk_id"),
    )
    piece = F.slice(F.col("__toks"), F.col("chunk_id") * stride + 1, window)
    return ex.select(
        id_col,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size(piece).cast("long").alias("n_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def pack_training_windows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 64,
) -> DataFrame:
    """GPT-style sequence packing: deterministically shuffle the corpus
    (md5-of-id order — reproducible across engines and partitionings),
    CONCATENATE the token streams, and cut every ``window`` tokens into
    fixed-length training examples. Output one row per (bin, doc)
    intersection: (bin_id, doc_id, tok_start, tok_end, bin_offset) —
    tok_start/tok_end are the doc's 0-based [start, end) token range
    assigned to the bin, bin_offset its position inside the bin. Every bin
    except the last holds exactly ``window`` tokens; nothing is padded,
    nothing dropped.

    Scale: the global token offset is a PARALLEL prefix sum, not a
    single-task window — range-repartition on the shuffle key, per-
    partition cumulative sums (Window.partitionBy(partition)), and a
    driver-side P-entry partition-prefix map broadcast back. One range
    shuffle of (id, n) longs + one map-side explode; output offsets are a
    pure function of the total (md5, id) order, so partition boundaries
    (and cluster width) never change results."""
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    spark = df.sparkSession
    t = (
        df.select(
            F.col(id_col).cast("long").alias("doc_id"),
            token_count(F.col(text_col)).alias("n"),
        )
        .filter(F.col("n") > 0)
        .withColumn("__key", F.md5(F.col("doc_id").cast("string")))
    )
    p = max(2, spark.sparkContext.defaultParallelism)
    r = t.repartitionByRange(p, "__key", "doc_id").sortWithinPartitions(
        "__key", "doc_id"
    ).withColumn("__pid", F.spark_partition_id())
    local = Window.partitionBy("__pid").orderBy("__key", "doc_id")
    r = r.withColumn("__loc", F.sum("n").over(local) - F.col("n"))
    # Pin ONE execution: repartitionByRange samples per-execution, so the
    # prefix map (derived below) and the final read must see the SAME
    # partition boundaries — localCheckpoint materializes the tiny
    # (doc_id, n, key, pid, loc) frame once and truncates lineage.
    r = r.localCheckpoint()
    # P partition totals -> driver -> exclusive-prefix map (tiny, exact)
    totals = {
        row["__pid"]: row["tot"]
        for row in r.groupBy("__pid").agg(F.sum("n").alias("tot")).collect()
    }
    prefix, acc = {}, 0
    for pid in sorted(totals):
        prefix[pid] = acc
        acc += totals[pid]
    pmap = F.create_map(
        *[F.lit(x) for kv in sorted(prefix.items()) for x in kv]
    )
    r = r.withColumn("off", (F.col("__loc") + pmap[F.col("__pid")]).cast("long"))
    first_bin = F.floor(F.col("off") / window).cast("long")
    last_bin = F.floor((F.col("off") + F.col("n") - 1) / window).cast("long")
    ex = r.select(
        "doc_id", "n", "off", F.explode(F.sequence(first_bin, last_bin)).alias("bin_id")
    )
    start = F.greatest(F.lit(0), F.col("bin_id") * window - F.col("off"))
    end = F.least(F.col("n"), (F.col("bin_id") + 1) * window - F.col("off"))
    return ex.select(
        F.col("bin_id").cast("long").alias("bin_id"),
        "doc_id",
        start.cast("long").alias("tok_start"),
        end.cast("long").alias("tok_end"),
        F.greatest(F.lit(0), F.col("off") - F.col("bin_id") * window)
        .cast("long")
        .alias("bin_offset"),
    )


def boilerplate_ngram_scrub(
    docs: DataFrame,
    n: int = 5,
    min_doc_freq: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide boilerplate removal — the cross-document complement of
    per-document dedup: token n-grams appearing in ``>= min_doc_freq``
    DISTINCT documents (headers, footers, license banners, nav chrome) are
    scrubbed from every document, keeping the unique prose. This is the
    repeated-substring removal step training pipelines run between near-dup
    filtering and tokenization (Lee et al.'s dedup work motivates it); the
    relational form works on n-gram granularity instead of suffix arrays.

    A token is removed iff ANY flagged n-gram instance covers it (a flagged
    gram starting within the previous n-1 positions). Output per input doc
    (empty-token docs drop, like the other token operators):
    (doc_id, n_tokens, n_removed, scrubbed_text).

    Scale shape: one gram explode (map-side), one partial-aggregated
    distinct-doc count keyed by gram, one equi-join of gram instances
    against the (small) flagged set, then a doc-granularity join and a
    single MAP stage that resolves coverage and rebuilds the text with
    array ops (no token-level shuffle, window sort, or regroup) — no
    all-pairs anywhere, no Python; every shuffle is keyed by gram or
    doc_id. Grams shuffle as
    int64 ``xxhash64`` values computed BEFORE the explode (the exploded
    rows never carry the token array or multi-word strings) — several-fold
    fewer shuffle bytes; a 64-bit collision (two distinct grams sharing a
    hash, ~2^-64 per pair) could only merge their doc-frequency counts,
    which the DuckDB twin's exact-string replay would catch. The token
    frame is materialized ONCE (localCheckpoint): its three consumers
    (doc-frequency count, flagged-instance join, coverage rebuild) read
    the checkpoint instead of re-running the tokenize scan and whatever
    upstream plan produced ``docs``."""
    # split lower(text) on non-letter RUNS + drop empties: identical
    # arrays to tokens()'s normalize-then-split recipe, with one regex
    # pass instead of three and a codegen'd array_remove instead of the
    # interpreted F.filter lambda
    # explicit doc_id hash partitioning BEFORE the checkpoint: the input
    # may arrive as a handful of partitions (one parquet file, a broadcast
    # fan-out), and AQE's size-based coalescing can't see CPU cost — the
    # expensive rebuild stage downstream would run near-serially. An
    # explicit numPartitions is exempt from AQE coalescing, the checkpoint
    # blocks spread across executors, and the doc_id-keyed join below
    # reuses the partitioning.
    n_parts = max(docs.sparkSession.sparkContext.defaultParallelism, 1)
    tok = (
        docs.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.array_remove(
                F.split(F.lower(F.col(text_col)), "[^a-z]+"), ""
            ).alias("w"),
        )
        .filter(F.size("w") > 0)
        .repartition(n_parts, "doc_id")
        .localCheckpoint()
    )
    starts = F.when(
        F.size("w") >= n, F.sequence(F.lit(0), F.size("w") - n)
    ).otherwise(F.array().cast("array<int>"))
    # the two selects fuse into ONE whole-stage-codegen pipeline (Generate
    # + Project): `w` never crosses a stage boundary, and only the int64
    # hash reaches the shuffles
    grams = tok.select(
        "doc_id",
        F.explode(starts).alias("start"),
        "w",
    ).select(
        "doc_id",
        "start",
        F.xxhash64(
            F.array_join(F.slice("w", F.col("start") + 1, n), " ")
        ).alias("gh"),
    )
    flagged = (
        grams.groupBy("gh")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= min_doc_freq)
        .select("gh")
    )
    # the flagged set is small by construction (grams repeated in >=
    # min_doc_freq DISTINCT docs — headers/banners, not prose): broadcast
    # it so the gram instances are filtered map-side instead of shuffled
    inst = grams.join(F.broadcast(flagged), "gh").select(
        "doc_id", F.col("start").alias("pos")
    )
    # collapse flagged starts to ONE array per doc, join at DOC granularity
    # (doc-level rows shuffle, never token-level rows), then resolve the
    # coverage ENTIRELY map-side with array ops: expand each flagged start
    # to its covered positions, and keep the tokens whose position is not
    # covered. No posexplode, no per-doc window sort, no collect_list
    # regroup — the r9 shape paid a ~10s whole-stage-codegen compile on
    # first execution (window + struct-regroup plan) and a token-level
    # shuffle; this one is a single map stage after the join, and its
    # cold and warm walls are within ~15% (the bench tiers run each shape
    # once, so cold-robustness is what the throughput target measures).
    # The interpreted-HOF cost stays bounded: fp and cov are tiny per doc
    # (flagged starts are headers/banners, not prose).
    inst_set = inst.groupBy("doc_id").agg(F.collect_set("pos").alias("fp"))
    j = tok.join(inst_set, "doc_id", "left").withColumn(
        "fp", F.coalesce("fp", F.array().cast("array<int>"))
    )
    covered = F.array_distinct(
        F.flatten(
            F.transform("fp", lambda s: F.sequence(s, s + F.lit(n - 1)))
        )
    )
    j = j.withColumn("cov", covered)
    zipped = F.arrays_zip(
        F.sequence(F.lit(0), F.size("w") - 1).alias("pos"),
        F.col("w").alias("tok"),
    )
    keep = F.filter(
        zipped, lambda z: ~F.array_contains(F.col("cov"), z["pos"])
    )
    return j.select(
        "doc_id",
        F.size("w").cast("long").alias("n_tokens"),
        (F.size("w") - F.size(keep)).cast("long").alias("n_removed"),
        F.array_join(
            F.transform(keep, lambda z: z["tok"]), " "
        ).alias("scrubbed_text"),
    )


def lm_perplexity(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 1,
    reference: DataFrame | None = None,
) -> DataFrame:
    """CCNet-style language-model quality filtering (Wenzek et al. 2020,
    arXiv:1911.00359): train a BIGRAM LM with add-k smoothing on
    ``reference`` (the corpus itself by default — CCNet uses a clean
    reference like Wikipedia), score every document's per-bigram
    cross-entropy, and bucket the corpus into head / middle / tail by
    exact global tertiles — the split CCNet keeps/reviews/drops.

    Output one row per document with ≥ 2 tokens: (doc_id, n_bigrams,
    log_ppl, bucket). ``log_ppl`` is the mean negative log-probability
    (natural log), lower = more fluent under the model.

    Cross-engine exactness: probabilities are rationals of exact integer
    counts — (c12+k)/(c1+k·V) — evaluated as one IEEE division; each
    bigram's log-prob is quantized HALF_UP to 1e-6 and summed as int64
    (order-independent — a double AVG would depend on partition
    accumulation order), then one final division + round(6). Buckets use
    SQL NTILE semantics over (log_ppl, doc_id) — a total order on already-
    rounded values — so a DuckDB oracle reproduces every row bit-for-bit.

    At 100 TB: counts are partial-aggregated map-reduce; the model join is
    a shuffle equi-join on (w1, w2); everything stays JVM-codegen (no
    UDFs). The tertile rank is a PARALLEL prefix rank (range shuffle +
    per-partition row_number + broadcast P-entry offset map — the
    :func:`pack_training_windows` pattern), never a single-partition
    NTILE window; driver state is O(partitions)."""
    spark = docs.sparkSession
    base = docs.select(
        F.col(id_col).cast("long").alias("doc_id"), tokens(F.col(text_col)).alias("ws")
    )
    ref = (
        base
        if reference is None
        else reference.select(
            F.col(id_col).cast("long").alias("doc_id"),
            tokens(F.col(text_col)).alias("ws"),
        )
    )

    def bigrams(df: DataFrame) -> DataFrame:
        pairs = F.when(
            F.size("ws") >= 2,
            F.zip_with(
                F.slice("ws", 1, F.size("ws") - 1),
                F.slice("ws", 2, F.size("ws") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            ),
        ).otherwise(F.expr("CAST(array() AS array<struct<w1:string,w2:string>>)"))
        return df.select("doc_id", F.explode(pairs).alias("bg")).select(
            "doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")
        )

    ref_bg = bigrams(ref)
    c12 = ref_bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("nctx"))
    vocab = ref.select(F.explode("ws").alias("w")).agg(
        F.countDistinct("w").alias("v")
    )

    bg = bigrams(base)
    scored = (
        bg.join(c12, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
    )
    v = F.col("v").cast("double")
    kf = F.lit(float(k))
    p = F.when(F.col("nctx").isNull(), F.lit(1.0) / v).otherwise(
        (F.coalesce(F.col("c12"), F.lit(0)).cast("double") + kf)
        / (F.col("nctx").cast("double") + kf * v)
    )
    lpq = F.round(F.log(p) * F.lit(1_000_000.0)).cast("long")
    doc = (
        scored.select("doc_id", lpq.alias("lpq"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), F.sum("lpq").alias("s"))
        .select(
            "doc_id",
            F.col("n_bigrams").cast("long").alias("n_bigrams"),
            F.round(
                -F.col("s").cast("double")
                / (F.col("n_bigrams").cast("double") * F.lit(1_000_000.0)),
                6,
            ).alias("log_ppl"),
        )
    )

    # exact global tertiles without a single-partition NTILE: parallel
    # prefix rank (same shape as pack_training_windows' token offsets)
    p_n = max(2, spark.sparkContext.defaultParallelism)
    r = (
        doc.repartitionByRange(p_n, "log_ppl", "doc_id")
        .sortWithinPartitions("log_ppl", "doc_id")
        .withColumn("__pid", F.spark_partition_id())
    )
    local = Window.partitionBy("__pid").orderBy("log_ppl", "doc_id")
    r = r.withColumn("__loc", F.row_number().over(local)).localCheckpoint()
    counts = {
        row["__pid"]: row["n"]
        for row in r.groupBy("__pid").agg(F.count("*").alias("n")).collect()
    }
    prefix, acc = {}, 0
    for pid in sorted(counts):
        prefix[pid] = acc
        acc += counts[pid]
    total = acc
    if total == 0:
        return r.select(
            "doc_id", "n_bigrams", "log_ppl", F.lit("head").alias("bucket")
        )
    pmap = F.create_map(*[F.lit(x) for kv in sorted(prefix.items()) for x in kv])
    rank = (F.col("__loc") + pmap[F.col("__pid")]).cast("long")
    # SQL NTILE(3): the first (total % 3) buckets hold ceil(total/3) rows
    q, rem = divmod(total, 3)
    if q == 0:
        bucket_no = rank  # fewer docs than buckets: NTILE gives 1, 2, ...
    else:
        big = rem * (q + 1)
        bucket_no = F.when(
            rank <= F.lit(big), F.ceil(rank / F.lit(float(q + 1)))
        ).otherwise(F.lit(rem) + F.ceil((rank - F.lit(big)) / F.lit(float(q))))
    bucket = (
        F.when(bucket_no == 1, F.lit("head"))
        .when(bucket_no == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return r.select("doc_id", "n_bigrams", "log_ppl", bucket.alias("bucket"))


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    n: int = 20,
) -> DataFrame:
    """Okapi BM25 lexical retrieval (Robertson & Zaragoza 2009): rank the
    corpus against a bag-of-terms query — the classic full-text scorer and
    the lexical complement of the embedding KNN family
    (operators/similarity.py). The reference exposes retrieval only through
    its AI-semantic surface (semantic_example.sql); pretraining-data
    pipelines also need the lexical side (quality probes, near-miss
    contamination checks, retrieval-based filtering a la DSIR).

    Per (doc, term): idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)),
    idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)) (the Lucene variant — always
    positive, so stopword-ish terms can't flip signs). Output: top-``n``
    docs as (rank, doc_id, score_q6) where ``score_q6`` is the score
    quantized HALF_UP at 1e-6 and summed as int64 — the
    :func:`lm_perplexity` exactness contract: per-term quantization makes
    the doc score independent of float accumulation order, so a DuckDB
    oracle replays it bit-for-bit, and ties break on doc_id for a total
    order.

    At 100 TB: ONE tokenize + explode pass computes doc length AND every
    per-term tf in the same partial-aggregated groupBy (map-side combine
    reduces each task to one row per doc before the shuffle — the token
    stream itself never shuffles); the resulting per-doc frame is tiny
    (one row per doc, |terms|+2 longs) and is materialized once (the
    round-8 regression: tf, dl, and the dl join each re-tokenized the
    corpus). Corpus stats (N, avgdl) and every per-term df reduce to ONE
    O(|terms|) driver row — idf values become literals (IEEE doubles
    either way, so the oracle replay is unchanged) — and the final score
    is a single projection over the per-doc frame ending in
    TakeOrderedAndProject: three small jobs total, no token-stream
    shuffle, no joins, no UDFs, no global sort."""
    from pyspark.sql import Window

    # dedupe, order-preserving: the exploded-tf form scored each DISTINCT
    # term once however often it appeared in the query list
    terms_l = list(dict.fromkeys(str(t) for t in terms))
    # one pass: dl and per-term tfs in the same partial agg (one row per
    # doc reaches the shuffle); docs with zero tokens emit no explode
    # rows, so they are absent — identical to the old dl > 0 filter.
    # split-then-explode with a codegen'd empty-string filter: same
    # tokens as tokens(), minus its interpreted F.filter lambda
    # (higher-order functions never enter codegen).
    # split lower(text) on non-letter RUNS: identical tokens to
    # tokens()'s normalize-then-split recipe (a maximal [^a-z]+ run is
    # exactly one separator; leading/trailing runs yield empties, dropped
    # below) — one regex pass over the text instead of three
    per_doc = (
        _fan_out(docs, id_col)
        .select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.explode(F.split(F.lower(F.col(text_col)), "[^a-z]+")).alias("w"),
        )
        .where(F.col("w") != "")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("dl"),
            *[
                F.sum((F.col("w") == t).cast("int")).cast("long").alias(f"__tf{i}")
                for i, t in enumerate(terms_l)
            ],
        )
        .localCheckpoint()
    )
    # N, avgdl, df_t: one O(|terms|)-wide row — the _collect_centroids
    # pattern (bounded driver data, scale-independent)
    srow = per_doc.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"__tf{i}") > 0).cast("int")).cast("double").alias(f"__df{i}")
            for i in range(len(terms_l))
        ],
    ).collect()[0]
    import math

    n_docs, avgdl = srow.n_docs, srow.avgdl
    score_terms = []
    for i in range(len(terms_l)):
        df = srow[f"__df{i}"]
        if not df:
            continue  # term absent from the corpus: contributes nothing
        idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        tf_c = F.col(f"__tf{i}")
        tfc = (tf_c * F.lit(k1 + 1.0)) / (
            tf_c
            + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
        )
        score_terms.append(
            F.when(
                tf_c > 0,
                F.round(F.lit(idf) * tfc * F.lit(1000000.0), 0).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
        )
    matched = F.lit(False)
    for i in range(len(terms_l)):
        if srow[f"__df{i}"]:
            matched = matched | (F.col(f"__tf{i}") > 0)
    if not score_terms:
        score_terms = [F.lit(0).cast("long")]
    total = score_terms[0]
    for s in score_terms[1:]:
        total = total + s
    # only docs containing >= 1 query term are ranked (the exploded-tf
    # form never emitted a row for the rest)
    top = (
        per_doc.where(matched)
        .select("doc_id", total.alias("score_q6"))
        .orderBy(F.desc("score_q6"), F.asc("doc_id"))
        .limit(n)
    )
    w = Window.orderBy(F.desc("score_q6"), F.asc("doc_id"))
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "doc_id",
        F.col("score_q6").cast("long").alias("score_q6"),
    )


def dsir_topk(
    docs: DataFrame,
    target_where: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 100,
    seed: str = "dsir",
) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, arXiv:2302.03169): rank raw
    documents by importance weight under hashed-n-gram bag-of-words models
    of a TARGET distribution vs the RAW distribution — the
    data-selection pass that picks pretraining data resembling a
    high-quality target corpus. ``target_where`` names the target subset
    (e.g. ``"lang = 'en'"``); the weight of a document is
    sum over tokens of ln(p_target(bucket)/p_raw(bucket)) under add-1
    smoothing — the log importance ratio of the unigram product model.

    Hashed features: each token maps to one of 256 buckets by the first
    two hex chars of ``md5(seed|token)`` — the engine's portable-hash
    contract (operators/sampling.py), so any engine recomputes identical
    features. The per-bucket log-ratio is ONE ln over a ratio of exact
    int64 products, quantized HALF_UP at 1e-6; per-doc weights sum as
    int64 (accumulation-order-free — the lm_perplexity contract), so a
    DuckDB oracle replays the selection bit-for-bit. Output: the selected
    top-``n`` as (rank, doc_id, n_tokens, weight_q6), ties on doc_id.

    At 100 TB: ONE explode + md5 pass partial-aggregates the token stream
    into per-(doc, bucket) counts (≤ 256 rows per doc) with the doc's
    target-membership riding along as a grouping flag, so the raw AND
    target bucket totals are one re-aggregation of that compact frame —
    no second corpus scan, no doc_id-keyed join of the token stream
    against the target ids (r9's slowest scaled op: that join shuffled
    the whole per-doc frame). A 256-row log-ratio table broadcasts back
    onto it; per-doc sums are count-weighted; TakeOrderedAndProject
    top-n — no UDFs, no driver collect, no global sort. (The int64
    smoothing products are exact in IEEE double below ~2^53 total tokens
    per side — beyond that the 1e-6 quantization dominates either way.)"""
    from pyspark.sql import Window

    B = 256
    tok = _fan_out(docs, id_col).select(
        F.col(id_col).cast("long").alias("doc_id"),
        # NULL predicate result counts as non-target, like filter() would
        F.coalesce(F.expr(target_where).cast("boolean"), F.lit(False)).alias(
            "is_tgt"
        ),
        F.explode(tokens(F.col(text_col))).alias("w"),
    )
    tokb = tok.select(
        "doc_id",
        "is_tgt",
        F.substring(
            F.md5(F.concat_ws("|", F.lit(seed), F.col("w"))), 1, 2
        ).alias("b"),
    )
    # is_tgt is constant per doc, so adding it to the key changes nothing
    # but lets the bucket totals split raw/target WITHOUT a join.
    # localCheckpoint: db feeds THREE consumers (bucket totals, the
    # log-ratio broadcast build, and the per-doc scoring pass) — without
    # it each broadcast build replays the whole tokenize+md5 corpus
    # lineage (the r10 10.4s wall: ~3 corpus passes for one answer);
    # checkpointed, the corpus is read once and the reuses scan the
    # compact ≤256-rows-per-doc frame
    db = (
        tokb.groupBy("doc_id", "is_tgt", "b")
        .agg(F.count("*").alias("c"))
        .localCheckpoint()
    )
    r = (
        db.groupBy("b")
        .agg(
            F.sum("c").alias("c_raw"),
            F.sum(
                F.when(F.col("is_tgt"), F.col("c")).otherwise(F.lit(0))
            ).alias("c_tgt"),
        )
        # 256 rows; pinning them keeps totals + lr from re-scanning db
        .localCheckpoint()
    )
    totals = r.agg(
        F.sum("c_raw").alias("t_raw"), F.sum("c_tgt").alias("t_tgt")
    )
    num = ((F.col("c_tgt") + 1) * (F.col("t_raw") + B)).cast("double")
    den = ((F.col("c_raw") + 1) * (F.col("t_tgt") + B)).cast("double")
    lr = r.crossJoin(F.broadcast(totals)).select(
        "b",
        F.round(F.log(num / den) * F.lit(1000000.0), 0)
        .cast("long")
        .alias("lr_q6"),
    )
    scored = (
        db.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum(F.col("c") * F.col("lr_q6")).alias("weight_q6"),
        )
    )
    top = scored.orderBy(F.desc("weight_q6"), F.asc("doc_id")).limit(n)
    w = Window.orderBy(F.desc("weight_q6"), F.asc("doc_id"))
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "doc_id",
        "n_tokens",
        F.col("weight_q6").cast("long").alias("weight_q6"),
    )


def encode_token_ids(
    docs: DataFrame,
    vocab_size: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Vocabulary-id encoding — the step between corpus vocab statistics
    (:func:`bm25_topk`'s tf/df machinery, t8's top-k) and sequence packing
    (:func:`pack_training_windows`): map every token to its id under the
    corpus top-``vocab_size`` vocabulary (rank by frequency, ties
    lexicographic — deterministic), OOV tokens to id 0.

    Output one row per document: (doc_id, n_tokens, n_oov, ids_md5) where
    ``ids_md5`` fingerprints the ORDERED id sequence (ids joined by ',')
    — the order-sensitive artifact a DuckDB oracle replays exactly
    (string_agg ORDER BY position), without shipping whole id arrays
    through the driver compare.

    At 100 TB: vocab is partial-aggregated counts + a top-V heap (V rows,
    broadcast back); encoding is a map-side broadcast join on the token;
    the per-doc sequence rebuild is one groupBy with an array_sort over
    (pos, id) structs — per-doc state only, no global sort, no UDFs."""
    tok = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "w"),
    )
    counts = tok.groupBy("w").agg(F.count("*").alias("c"))
    from pyspark.sql import Window

    top = counts.orderBy(F.desc("c"), F.asc("w")).limit(vocab_size)
    w = Window.orderBy(F.desc("c"), F.asc("w"))
    vocab = top.select(
        "w", F.row_number().over(w).cast("long").alias("tid")
    )
    enc = tok.join(F.broadcast(vocab), "w", "left").select(
        "doc_id", "pos", F.coalesce(F.col("tid"), F.lit(0)).alias("tid")
    )
    seq = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "tid"))),
            lambda s: s["tid"].cast("string"),
        ),
        ",",
    )
    return enc.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum((F.col("tid") == 0).cast("long")).cast("long").alias("n_oov"),
        F.md5(seq).alias("ids_md5"),
    )
