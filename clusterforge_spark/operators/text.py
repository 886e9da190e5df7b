"""Text analysis operators: stats, token counting, language ID, quality
scoring, fingerprinting.

All pure built-in expressions (split / regexp / higher-order array
functions) — per-row, map-only, no shuffle except the final group-bys;
linear at any scale. Each has a matching DuckDB oracle (oracle_sql.py).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from clusterforge_spark.functions.rounding import round_det

from clusterforge_spark.functions import hashing as H

#: tiny per-language stopword lists for the n-gram/stopword language-ID
#: heuristic. Order defines the deterministic tie-break (alphabetical).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "en": ("the", "and", "of", "to", "a", "in", "is", "that"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr": ("le", "la", "et", "les", "des", "un", "une", "est"),
}

#: CJK unified ideographs — presence ⇒ predict zh directly.
CJK_PATTERN = "[一-鿿]"


def _stopword_hits(toks: Column, words: tuple[str, ...]) -> Column:
    lits = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(lits, t)))


def text_stats(documents: DataFrame) -> DataFrame:
    """Corpus stats per language (counts exact, averages rounded)."""
    toks = H.tokens_col("text")
    per_doc = documents.select(
        "lang",
        F.col("n_chars"),
        F.length("text").cast("long").alias("n_chars_measured"),
        F.size(toks).cast("long").alias("n_tokens"),
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        round_det(F.avg("n_tokens"), 4).alias("avg_tokens"),
        round_det(F.avg("n_chars_measured"), 4).alias("avg_chars"),
        F.max("n_chars").alias("max_chars"),
    )


def token_counts(documents: DataFrame) -> DataFrame:
    """Per-doc token counts: whitespace tokens + a BPE-ish regex count.

    The regex counts letter runs, digit runs, and lone punctuation —
    the word-boundary pre-split a BPE tokenizer applies before merges,
    a cheap proxy for LLM token cost.
    """
    toks = H.tokens_col("text")
    return documents.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_ws_tokens"),
        F.regexp_count(F.lower("text"), F.lit(H.TOKEN_RE)).cast("long").alias("n_re_tokens"),
        F.length("text").cast("long").alias("n_chars_measured"),
    )


def lang_id(documents: DataFrame) -> DataFrame:
    """Stopword-profile language ID with CJK short-circuit.

    predicted = 'zh' if any CJK char, else argmax stopword hits with
    deterministic alphabetical tie-break (array_min over
    struct(-score, lang) — struct ordering gives max score, then
    lexicographically smallest language).
    """
    toks = H.tokens_col("text")
    langs = sorted(LANG_STOPWORDS)
    # Evaluate the stopword hits ONCE per language in a first projection;
    # the argmax struct then references the named columns. Catalyst's
    # CollapseProject keeps the split (it refuses to inline non-cheap
    # expressions referenced more than once), so each hit count is
    # computed once instead of twice per language.
    scored = documents.select(
        "doc_id",
        "lang",
        F.col("text").rlike(CJK_PATTERN).alias("has_cjk"),
        *[
            _stopword_hits(toks, LANG_STOPWORDS[lang]).cast("long").alias(f"score_{lang}")
            for lang in langs
        ],
    )
    entries = [
        F.struct(
            (-F.col(f"score_{lang}")).alias("neg"),
            F.lit(lang).alias("lang"),
        )
        for lang in langs
    ]
    best = F.array_min(F.array(*entries))
    predicted = F.when(F.col("has_cjk"), F.lit("zh")).otherwise(best.getField("lang"))
    return scored.select(
        "doc_id",
        "lang",
        *[F.col(f"score_{lang}") for lang in langs],
        predicted.alias("predicted_lang"),
    ).withColumn("is_match", (F.col("predicted_lang") == F.col("lang")).cast("boolean"))


def quality_score(
    documents: DataFrame, passthrough: tuple[str, ...] = ()
) -> DataFrame:
    """Heuristic document quality: length, punctuation, stopword density.

    score = 0.4·min(1, tokens/64) + 0.3·(1 − punct_ratio)
          + 0.3·min(1, 4·stopword_ratio)   — rounded to 4dp.

    ``passthrough`` columns are carried into the output unchanged so
    consumers that need them (e.g. the streaming quality gate, which
    filters on ``lang``) stay a single map-only projection instead of
    joining the score back to the input — on a stream, that join would
    be a stateful stream-stream self-join with unbounded state.
    """
    toks = H.tokens_col("text")
    n_tokens = F.size(toks).cast("double")
    n_chars = F.length("text").cast("double")
    n_punct = F.regexp_count(F.lower("text"), F.lit(r"[^a-z0-9\s]")).cast("double")
    en_hits = _stopword_hits(toks, LANG_STOPWORDS["en"]).cast("double")
    punct_ratio = n_punct / F.greatest(n_chars, F.lit(1.0))
    stop_ratio = en_hits / F.greatest(n_tokens, F.lit(1.0))
    score = (
        F.lit(0.4) * F.least(F.lit(1.0), n_tokens / F.lit(64.0))
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio)
        + F.lit(0.3) * F.least(F.lit(1.0), F.lit(4.0) * stop_ratio)
    )
    return documents.select(
        "doc_id",
        *passthrough,
        F.size(toks).cast("long").alias("n_tokens"),
        round_det(punct_ratio, 4).alias("punct_ratio"),
        round_det(stop_ratio, 4).alias("stopword_ratio"),
        round_det(score, 4).alias("quality"),
    )


def normalize_text(documents: DataFrame) -> DataFrame:
    """Training-data text normalization: tag strip → lowercase → control
    chars out → whitespace collapse → trim.

    The standard pre-tokenization cleanup pass of an LLM data pipeline,
    kept to regex/string built-ins whose semantics are identical across
    engines (the DuckDB oracle applies the same steps with 'g' flags).
    Map-only; linear at any scale.
    """
    t = F.lower(F.col("text"))
    t = F.regexp_replace(t, r"<[^>]*>", " ")  # HTML-ish tags
    t = F.regexp_replace(t, r"[\x00-\x1f\x7f]", " ")  # control chars
    t = F.trim(F.regexp_replace(t, r"\s+", " "))  # collapse runs
    return documents.select(
        "doc_id",
        t.alias("norm_text"),
        F.length(t).cast("long").alias("n_chars_norm"),
    )


def vocab_topk(documents: DataFrame, k: int = 100) -> DataFrame:
    """Corpus vocabulary: top-k tokens by total occurrences, with
    document frequency — the input to vocabulary pruning / stopword
    induction / TF-IDF weighting.

    explode(tokens) → one hash-aggregate on the token (map-side partial
    agg absorbs the per-doc repetition before the shuffle), then top-k
    planned as TakeOrderedAndProject. Ties broken by token ascending —
    deterministic output.

    Token *occurrences* need the non-distinct token list, so this uses
    the raw split (not the distinct token_hashes path); doc_freq counts
    each doc once via countDistinct.
    """
    ex = documents.select("doc_id", F.explode(H.tokens_col("text")).alias("token"))
    return (
        ex.groupBy("token")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("long").alias("doc_freq"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("token"))
        .limit(k)
    )


def tfidf_top_terms(documents: DataFrame, top_n: int = 3) -> DataFrame:
    """Top-N characteristic terms per document by TF-IDF.

    tf = token occurrences within the doc; idf = ln(N / doc_freq);
    score = tf · idf rounded 6dp, ties broken by token ascending —
    fully deterministic. Shape: explode → two hash aggregates (per-doc
    term freq; corpus doc freq) → broadcast-joined corpus size → one
    per-doc window for the top-N. At 100 TB, persist the exploded
    (doc, token) table once (it feeds both aggregates) and bucket it by
    token so the df join co-locates.
    """
    from pyspark.sql.window import Window

    ex = documents.select("doc_id", F.explode(H.tokens_col("text")).alias("token"))
    tf = ex.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfq = ex.groupBy("token").agg(
        F.countDistinct("doc_id").cast("long").alias("df")
    )
    n = documents.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfq, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            round_det(
                F.col("tf").cast("double")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= top_n)
    )


def doc_fingerprints(documents: DataFrame) -> DataFrame:
    """Min-hash fingerprints: smallest 60-bit md5 hash over distinct
    tokens and over 5-gram shingles (1-permutation min-hash — the
    winnowing-style compact document signature)."""
    from clusterforge_spark.functions.partitioning import spread_partitions

    # tokens materialize below the spread exchange; hashes + shingles
    # derive from the stored array (long-document rule — see
    # hashing.shingles_from_tokens)
    with_arrays = spread_partitions(
        documents.select("doc_id", H.tokens_col("text").alias("t")), "doc_id"
    ).select(
        "doc_id",
        F.transform(
            F.array_distinct(F.col("t")),
            lambda tk: F.conv(F.md5(tk).substr(1, 15), 16, 10).cast("long"),
        ).alias("th"),
        H.shingles_from_tokens("t", n=5).alias("sh5"),
    )
    shingle_hashes = F.transform(
        F.col("sh5"), lambda s: F.conv(F.md5(s).substr(1, 15), 16, 10).cast("long")
    )
    return with_arrays.select(
        "doc_id",
        F.array_min("th").alias("token_minhash"),
        F.when(F.size("sh5") > 0, F.array_min(shingle_hashes))
        .otherwise(F.lit(None).cast("long"))
        .alias("shingle_minhash"),
        F.size("th").cast("long").alias("n_distinct_tokens"),
    )


#: PII regexes — ASCII-only so the Java (Spark) and RE2 (DuckDB) regex
#: dialects agree character-for-character.
PII_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_PHONE_RE = r"\+1-[0-9]{3}-[0-9]{4}"
PII_IP_RE = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"


def docs_with_pii(documents: DataFrame) -> DataFrame:
    """documents with deterministic synthetic PII appended (the corpus
    generator emits none, so the redaction pass needs seeded targets —
    same trick as dedup.docs_with_dups). doc_id%3==0 gains an email,
    %5==0 a phone number, %7==0 an IP address; ids are derived from
    doc_id so both engines rebuild the identical corpus."""
    did = F.col("doc_id")
    email = F.when(
        did % 3 == 0,
        F.concat(F.lit(" reach user"), did.cast("string"), F.lit("@example.com now")),
    ).otherwise(F.lit(""))
    phone = F.when(
        did % 5 == 0,
        F.concat(
            F.lit(" call +1-555-"), (did % 9000 + 1000).cast("string"), F.lit(" today")
        ),
    ).otherwise(F.lit(""))
    ip = F.when(
        did % 7 == 0,
        F.concat(
            F.lit(" from 10."),
            (did % 256).cast("string"),
            F.lit(".0."),
            (did % 100).cast("string"),
        ),
    ).otherwise(F.lit(""))
    return documents.select(
        "doc_id",
        F.concat(F.col("text"), email, phone, ip).alias("text"),
        "lang",
        "source",
    )


def redact_pii(documents: DataFrame) -> DataFrame:
    """PII scrub: count then mask emails, phone numbers, and IPs.

    Counts come from regexp_count BEFORE replacement; masking chains
    three regexp_replace passes (all-occurrence semantics in both
    engines — DuckDB needs the 'g' flag, mirrored in the oracle).
    Map-only projection: scales as a pure scan, no shuffle.
    """
    t = F.col("text")
    return documents.select(
        "doc_id",
        "source",
        F.regexp_count(t, F.lit(PII_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(t, F.lit(PII_PHONE_RE)).cast("long").alias("n_phones"),
        F.regexp_count(t, F.lit(PII_IP_RE)).cast("long").alias("n_ips"),
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>"),
                PII_PHONE_RE,
                "<PHONE>",
            ),
            PII_IP_RE,
            "<IP>",
        ).alias("redacted"),
    )


#: Per-source sampling percentages for the stratified sample: the
#: "source mixing" weights of a training-data pipeline. Sources not
#: listed fall back to the default rate.
STRATA_PCT: dict[str, int] = {"src0": 80, "src1": 60, "src2": 40, "src3": 20}
STRATA_DEFAULT_PCT = 10


def stratified_sample(documents: DataFrame) -> DataFrame:
    """Deterministic stratified (per-source) sampling — corpus mixing.

    Each stratum keeps pct% of its documents, chosen by a 60-bit md5 of
    (source, doc_id) — reproducible across engines, partitionings and
    runs, unlike sampleBy's seeded-rand (partition-order-dependent).
    Map-only; at 100 TB this is how source reweighting runs: one scan,
    no shuffle, rates changed by editing the strata table.
    """
    bucket = (
        F.conv(
            F.md5(F.concat_ws("|", F.col("source"), F.col("doc_id").cast("string")))
            .substr(1, 15),
            16,
            10,
        ).cast("long")
        % 100
    )
    pct = F.lit(STRATA_DEFAULT_PCT)
    for src, p in STRATA_PCT.items():
        pct = F.when(F.col("source") == src, F.lit(p)).otherwise(pct)
    return (
        documents.select(
            "doc_id", "source", bucket.alias("hash_bucket"), pct.alias("keep_pct")
        )
        .filter(F.col("hash_bucket") < F.col("keep_pct"))
        .select("doc_id", "source", "hash_bucket", F.col("keep_pct").cast("long").alias("keep_pct"))
    )


def token_array_funcs(documents: DataFrame) -> DataFrame:
    """Higher-order / array-function breadth on the token arrays:
    sort, distinct, slice, membership (EXISTS), universal predicate
    (FORALL), and a fold — all map-only codegen'd expressions; the
    shapes every array-heavy pipeline leans on."""
    toks = H.tokens_col("text")
    return documents.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.array_join(F.slice(F.array_sort(F.array_distinct(toks)), 1, 3), ",").alias(
            "first3_sorted"
        ),
        F.exists(toks, lambda t: t == F.lit("spark")).alias("has_spark"),
        F.forall(toks, lambda t: F.length(t) < F.lit(12)).alias("all_short"),
        F.aggregate(
            F.transform(toks, lambda t: F.length(t).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("total_chars"),
    )


def unigram_logprob(documents: DataFrame) -> DataFrame:
    """Corpus-self unigram log-probability per document — the cheap
    perplexity-style quality signal a training pipeline uses to rank
    documents before expensive model-based scoring.

    Two aggregates: the corpus vocabulary (token → count, plus the
    total via a window-free broadcast of one scalar), then per-document
    mean log2 P(token). Cross-engine exactness uses the integer-sum
    trick: each token's log2-probability is deterministically rounded
    to 6dp and scaled to an exact BIGINT of micro-units, so the per-doc
    SUM is order-independent integer arithmetic; only the final mean
    divides back to double. At 100 TB the vocab join is a plain
    shuffle equi-join on the token (AQE broadcasts while it fits).
    """
    toks = H.tokens_col("text")
    exploded = documents.select("doc_id", F.explode(toks).alias("token"))
    vocab = exploded.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").cast("double").alias("n_total"))
    lp = F.log2(F.col("cnt").cast("double") / F.col("n_total"))
    lp_micro = F.floor(lp * F.lit(1e6) + F.lit(0.5)).cast("long")
    scored = (
        exploded.join(vocab, "token")
        .crossJoin(F.broadcast(total))
        .select("doc_id", lp_micro.alias("lp_micro"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("lp_micro").alias("sum_micro"),
        )
        .select(
            "doc_id",
            "n_tokens",
            round_det(
                F.col("sum_micro").cast("double")
                / F.lit(1e6)
                / F.col("n_tokens").cast("double"),
                4,
            ).alias("mean_log2p"),
        )
    )


def _grams_from_tokens(toks: Column | str, n: int) -> Column:
    """Non-distinct n-grams from a materialized token array column —
    same long-document rule as hashing.shingles_from_tokens (an inline
    tokens expression re-runs the tokenizer once per element_at)."""
    toks = F.col(toks) if isinstance(toks, str) else toks
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]
        ),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def repetition_stats(documents: DataFrame) -> DataFrame:
    """Gopher-style within-document repetition metrics (Rae et al. 2021,
    §A1.1 repetition filters): the fraction of a document covered by its
    most frequent 2-gram and by duplicated 3-grams — the standard signals
    for dropping boilerplate/spam before LLM training.

    One explode over a union of 2- and 3-grams, two doc_id-keyed
    aggregations; linear in corpus size, shuffle keys are
    (doc_id, n, gram) then doc_id — no all-pairs anything, scales to
    any corpus.
    """
    from clusterforge_spark.functions.partitioning import spread_partitions

    # Tokenize BELOW the spread exchange, grams from the materialized
    # token column above it (hashing.shingles_from_tokens rule: inline
    # grams re-tokenize per element_at — quadratic on long documents).
    # The testdata parquet is one row-group (scan parallelism 1), so the
    # spread also parallelizes the gram build itself.
    sp = spread_partitions(
        documents.select("doc_id", H.tokens_col("text").alias("t")), "doc_id"
    )
    # each union branch builds ONLY its own gram array: one projection
    # holding both 2- and 3-gram expressions overflows whole-stage
    # codegen and falls back to interpreted evaluation — measured 18.4 s
    # vs 1.1 s for this stage at sf0.1
    exploded = sp.select(
        "doc_id", F.lit(2).alias("n"), F.explode(_grams_from_tokens("t", 2)).alias("gram")
    ).unionAll(
        sp.select(
            "doc_id", F.lit(3).alias("n"), F.explode(_grams_from_tokens("t", 3)).alias("gram")
        )
    )
    counts = exploded.groupBy("doc_id", "n", "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    per = counts.groupBy("doc_id").agg(
        F.sum(F.when(F.col("n") == 2, F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("n_2grams"),
        F.max(F.when(F.col("n") == 2, F.col("cnt"))).cast("long").alias("top_2gram_cnt"),
        F.sum(F.when(F.col("n") == 3, F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("n_3grams"),
        F.sum(
            F.when((F.col("n") == 3) & (F.col("cnt") > 1), F.col("cnt")).otherwise(0)
        )
        .cast("long")
        .alias("dup_3gram_cnt"),
    )
    n2 = F.coalesce("n_2grams", F.lit(0).cast("long"))
    top2 = F.coalesce("top_2gram_cnt", F.lit(0).cast("long"))
    n3 = F.coalesce("n_3grams", F.lit(0).cast("long"))
    dup3 = F.coalesce("dup_3gram_cnt", F.lit(0).cast("long"))
    return documents.select("doc_id").join(per, "doc_id", "left").select(
        "doc_id",
        n2.alias("n_2grams"),
        round_det(
            F.when(n2 > 0, top2.cast("double") / n2.cast("double")).otherwise(0.0), 4
        ).alias("top_2gram_frac"),
        n3.alias("n_3grams"),
        round_det(
            F.when(n3 > 0, dup3.cast("double") / n3.cast("double")).otherwise(0.0), 4
        ).alias("dup_3gram_frac"),
    )


#: contamination-check defaults: every 20th doc stands in for the held-out
#: benchmark; 5-gram shingle overlap >= 20% flags a training doc.
CONTAM_BENCH_MOD = 20
CONTAM_NGRAM = 5
CONTAM_THRESHOLD = 0.2


def contamination_check(documents: DataFrame) -> DataFrame:
    """Benchmark-contamination screen: for every training document, the
    fraction of its distinct 5-gram shingles that appear anywhere in the
    "benchmark" set (deterministically: doc_id % 20 == 0 stands in for a
    held-out eval corpus).

    The standard n-gram decontamination pass (GPT-3 appendix C / PaLM):
    explode training shingles, left-join the distinct benchmark shingle
    set, per-doc hit fraction. At 100 TB both sides are shuffle
    equi-joins on the shingle string; the benchmark side is tiny and
    AQE broadcasts it.
    """
    from clusterforge_spark.functions.partitioning import spread_partitions

    # spread first (single-row-group source would serialize the shingle
    # build onto one core), tokens materialized below the exchange and
    # shingles from the stored array (long-document rule — see
    # hashing.shingles_from_tokens), then CACHE the shingle table: the
    # bench and train branches both read it, and — decisively — the
    # explode's inferred size(sh)>0 predicate then filters the
    # materialized arrays instead of being pushed below the exchange
    # where it re-evaluates the whole shingle expression interpreted on
    # the unspread scan (measured 27 s vs 1 s for the train branch at
    # sf0.1; same barrier rule as dedup.shingle_hash_table).
    with_sh = (
        spread_partitions(
            documents.select("doc_id", H.tokens_col("text").alias("t")), "doc_id"
        )
        .select("doc_id", H.shingles_from_tokens("t", n=CONTAM_NGRAM).alias("sh"))
        .cache()
    )
    bench = (
        with_sh.filter(F.col("doc_id") % CONTAM_BENCH_MOD == 0)
        .select(F.explode("sh").alias("gram"))
        .distinct()
        .withColumn("hit", F.lit(1).cast("long"))
    )
    train = with_sh.filter(F.col("doc_id") % CONTAM_BENCH_MOD != 0)
    per = (
        train.select("doc_id", F.explode("sh").alias("gram"))
        .join(bench, "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.coalesce("hit", F.lit(0).cast("long"))).cast("long").alias("n_hits"),
        )
    )
    nsh = F.coalesce("n_shingles", F.lit(0).cast("long"))
    nh = F.coalesce("n_hits", F.lit(0).cast("long"))
    frac = F.when(nsh > 0, nh.cast("double") / nsh.cast("double")).otherwise(0.0)
    return train.select("doc_id").join(per, "doc_id", "left").select(
        "doc_id",
        nsh.alias("n_shingles"),
        nh.alias("n_hits"),
        round_det(frac, 4).alias("contam_frac"),
        (frac >= F.lit(CONTAM_THRESHOLD)).alias("is_contaminated"),
    )


#: weighted-sampling weight cap: inclusion probability = min(n_chars, CAP)/CAP
WSAMPLE_CAP = 1024


def weighted_sample(documents: DataFrame) -> DataFrame:
    """Deterministic weighted Bernoulli sampling: each document is kept
    with probability proportional to its length (p = min(n_chars, 1024)
    / 1024), decided by comparing a 60-bit md5 hash of the doc_id
    against the scaled weight — EXACT integer arithmetic on both
    engines, so the sampled set is reproducible anywhere (the property
    that makes pipeline reruns and A/B data ablations comparable).

    Map-only — no shuffle, no RNG state; scales embarrassingly. The
    compare is done in decimal(38) because 2^60 * 1024 overflows int64.
    """
    u60 = F.conv(F.md5(F.col("doc_id").cast("string")).substr(1, 15), 16, 10).cast(
        "long"
    )
    w = F.least(F.col("n_chars"), F.lit(WSAMPLE_CAP)).cast("long")
    keep = (u60.cast("decimal(38,0)") * F.lit(WSAMPLE_CAP).cast("decimal(38,0)")) < (
        F.lit(2**60).cast("decimal(38,0)") * w.cast("decimal(38,0)")
    )
    return (
        documents.select("doc_id", "lang", "source", "n_chars", u60.alias("u60"))
        .where(keep)
    )


def reservoir_per_group(documents: DataFrame, k: int = 10) -> DataFrame:
    """Deterministic fixed-size per-group sample: exactly min(k, group
    size) documents per language, chosen by ranking an md5 key — the
    reproducible reservoir every eval-set builder needs (same corpus in,
    same sample out, on any cluster layout).

    One window pass partitioned by the group key. At 100 TB, groups are
    large but the sort is per-partition-key (no global sort), and a
    top-k-per-group rewrite (WindowGroupLimit) prunes rows before the
    full sort materializes.
    """
    from pyspark.sql.window import Window

    u60 = F.conv(F.md5(F.col("doc_id").cast("string")).substr(1, 15), 16, 10).cast(
        "long"
    )
    ranked = documents.select(
        "doc_id", "lang", "source", "n_chars", u60.alias("u60")
    ).withColumn(
        "rk",
        F.row_number()
        .over(Window.partitionBy("lang").orderBy("u60", "doc_id"))
        .cast("long"),
    )
    return ranked.filter(F.col("rk") <= k)


#: naive-bayes split: doc_id % 5 == 0 is the held-out test fold
NB_TEST_MOD = 5


def nb_classify(documents: DataFrame) -> DataFrame:
    """Distributed multinomial Naive Bayes language classifier — train
    AND predict as pure dataframe algebra, no iterative solver, no
    driver-side model object.

    Train (doc_id % 5 != 0): per-(lang, token) counts with add-one
    smoothing over the training vocabulary; per-lang token totals and
    document priors. Predict (doc_id % 5 == 0): explode test tokens,
    attach each language's log-likelihood (smoothed floor for unseen
    tokens), sum per (doc, lang), add the prior, argmax.

    Determinism: every log2-probability is rounded to 6dp and scaled to
    BIGINT micro-units (same trick as unigram_logprob), so the per-doc
    scores are order-independent integer sums and the argmax (tie-break:
    lexicographically smallest lang) is bit-stable on any engine or
    partitioning. Scale: token-count and score aggregations shuffle on
    (lang, token) / (doc_id, lang) — the model table is O(vocab x langs)
    and AQE broadcasts it into the scoring join.
    """
    toks = H.tokens_col("text")
    train = documents.filter(F.col("doc_id") % NB_TEST_MOD != 0)
    test = documents.filter(F.col("doc_id") % NB_TEST_MOD == 0)

    tr_tokens = train.select("lang", F.explode(toks).alias("token"))
    # eager checkpoint: counts feeds THREE subtrees (totals, vocab_n,
    # lik) — unmaterialized, each one re-runs the explode+aggregate over
    # the whole training fold. One row per (lang, token) — O(model),
    # not O(corpus) — and the blocks are freed on GC (vs a pinned cache).
    counts = (
        tr_tokens.groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    totals = counts.groupBy("lang").agg(F.sum("cnt").alias("total"))
    vocab_n = counts.select("token").distinct().agg(
        F.count(F.lit(1)).alias("v")
    )
    langs = train.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    # n_all == sum of the per-lang doc counts: deriving it from langs
    # (bounded rows) removes one full scan of the training fold
    n_train = langs.agg(F.sum("n_docs").cast("long").alias("n_all"))

    def _micro(lp):
        return F.floor(lp * F.lit(1e6) + F.lit(0.5)).cast("long")

    # model: one row per (lang, token) with smoothed log2 likelihood, plus
    # per-lang unseen-token floor and prior (all micro-unit BIGINTs)
    lik = (
        counts.join(totals, "lang")
        .crossJoin(F.broadcast(vocab_n))
        .select(
            "lang",
            "token",
            _micro(
                F.log2(
                    (F.col("cnt") + 1).cast("double")
                    / (F.col("total") + F.col("v")).cast("double")
                )
            ).alias("lp_micro"),
        )
    )
    lang_side = (
        langs.join(totals, "lang")
        .crossJoin(F.broadcast(vocab_n))
        .crossJoin(F.broadcast(n_train))
        .select(
            "lang",
            _micro(
                F.log2(F.lit(1.0) / (F.col("total") + F.col("v")).cast("double"))
            ).alias("unseen_micro"),
            _micro(
                F.log2(F.col("n_docs").cast("double") / F.col("n_all").cast("double"))
            ).alias("prior_micro"),
        )
    )

    te_tokens = test.select(
        "doc_id", F.col("lang").alias("true_lang"), F.explode(toks).alias("token")
    )
    # score every test token under every language: token x lang grid via
    # the per-lang row, then the (lang, token) likelihood where trained
    scored = (
        te_tokens.crossJoin(F.broadcast(lang_side.select("lang", "unseen_micro")))
        .join(lik, ["lang", "token"], "left")
        .select(
            "doc_id",
            "true_lang",
            "lang",
            F.coalesce("lp_micro", F.col("unseen_micro")).alias("m"),
        )
    )
    doc_lang = scored.groupBy("doc_id", "true_lang", "lang").agg(
        F.sum("m").alias("sum_micro")
    )
    with_prior = doc_lang.join(
        F.broadcast(lang_side.select("lang", "prior_micro")), "lang"
    ).select(
        "doc_id",
        "true_lang",
        "lang",
        (F.col("sum_micro") + F.col("prior_micro")).alias("score_micro"),
    )
    best = F.array_min(
        F.collect_list(
            F.struct((-F.col("score_micro")).alias("neg"), F.col("lang").alias("lang"))
        )
    )
    return (
        with_prior.groupBy("doc_id", "true_lang")
        .agg(
            best.getField("lang").alias("predicted_lang"),
            F.max(F.col("score_micro")).alias("best_score_micro"),
        )
        .withColumn(
            "is_correct", (F.col("predicted_lang") == F.col("true_lang")).cast("boolean")
        )
    )


def inverted_index(documents: DataFrame, max_postings: int = 50) -> DataFrame:
    """Token -> posting-list inverted index: document frequency plus the
    first ``max_postings`` doc_ids (sorted ascending) per token — the
    search-engine build step as one grouped aggregation.

    sort_array(collect_list(...)) makes the posting arrays
    order-independent and therefore deterministic under any
    partitioning; the cap keeps hot tokens (stopwords) from producing
    unbounded rows. At 100 TB, shard the index by token hash range —
    the groupBy key already is the shard key.
    """
    exploded = documents.select(
        "doc_id", F.explode(F.array_distinct(H.tokens_col("text"))).alias("token")
    )
    postings = F.slice(F.sort_array(F.collect_list("doc_id")), 1, max_postings)
    return exploded.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.array_join(
            F.transform(postings, lambda d: d.cast("string")), ","
        ).alias("postings"),
    )


def kl_divergence_by_source(documents: DataFrame) -> DataFrame:
    """Domain-shift detector: KL(P_source || P_corpus) over token
    unigram distributions, one row per source — the drift signal a
    training pipeline watches when a new crawl slice arrives.

    Counts are exact integers from two grouped aggregates; each token's
    contribution p_s·log2(p_s/p_c) is computed identically on both
    engines, and the per-source sum runs as a FIXED-ORDER fold over the
    token-sorted term array (same bit-stability rule as chi-square:
    plain SUM of doubles is partition-order dependent in the last ulp).
    """
    toks = H.tokens_col("text")
    ex = documents.select("source", F.explode(toks).alias("token"))
    st = ex.groupBy("source", "token").agg(F.count(F.lit(1)).alias("n_st"))
    s_tot = st.groupBy("source").agg(F.sum("n_st").alias("n_s"))
    corpus = ex.groupBy("token").agg(F.count(F.lit(1)).alias("n_t"))
    n_all = corpus.agg(F.sum("n_t").alias("n"))
    p_s = F.col("n_st").cast("double") / F.col("n_s").cast("double")
    p_c = F.col("n_t").cast("double") / F.col("n").cast("double")
    terms = (
        st.join(s_tot, "source")
        .join(corpus, "token")
        .crossJoin(F.broadcast(n_all))
        .select("source", "token", (p_s * F.log2(p_s / p_c)).alias("term"))
    )
    folded = terms.groupBy("source").agg(
        F.aggregate(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(F.col("token").alias("tk"), F.col("term").alias("t"))
                    )
                ),
                lambda s: s.getField("t"),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("kl"),
        F.count(F.lit(1)).cast("long").alias("n_tokens_distinct"),
    )
    return folded.select(
        "source", "n_tokens_distinct", round_det(F.col("kl"), 6).alias("kl_bits")
    )


def js_divergence_by_source(documents: DataFrame) -> DataFrame:
    """Jensen-Shannon divergence JS(P_source ‖ P_corpus) over token
    unigram distributions, one row per source — the SYMMETRIC, bounded
    [0,1]-bits drift signal that completes the divergence family (KL is
    unbounded and asymmetric; PSI/KS/W1 live on value distributions).

    Unlike KL, the corpus-side sum runs over EVERY corpus token (tokens
    absent from the source still contribute 0.5·p_c·log2(p_c/m)), so the
    term grid is sources × vocabulary — built as an explicit cross join
    of two exact-count aggregates with a left join for the source
    counts: |S|·|V| rows, hash-parallel, no window. Each term is
    arithmetic on ratios of exact integers (identical doubles in both
    engines — the kl_divergence_by_source convention) and the per-source
    sum is the same token-sorted fixed-order fold.
    """
    toks = H.tokens_col("text")
    ex = documents.select("source", F.explode(toks).alias("token"))
    st = ex.groupBy("source", "token").agg(F.count(F.lit(1)).alias("n_st"))
    s_tot = st.groupBy("source").agg(F.sum("n_st").alias("n_s"))
    corpus = ex.groupBy("token").agg(F.count(F.lit(1)).alias("n_t"))
    n_all = corpus.agg(F.sum("n_t").alias("n"))
    grid = (
        s_tot.crossJoin(corpus)
        .join(st, ["source", "token"], "left")
        .crossJoin(F.broadcast(n_all))
    )
    p_s = (
        F.coalesce(F.col("n_st"), F.lit(0)).cast("double")
        / F.col("n_s").cast("double")
    )
    p_c = F.col("n_t").cast("double") / F.col("n").cast("double")
    m = F.lit(0.5) * (p_s + p_c)
    term = (
        F.when(p_s > 0, F.lit(0.5) * p_s * F.log2(p_s / m)).otherwise(F.lit(0.0))
        + F.lit(0.5) * p_c * F.log2(p_c / m)
    )
    terms = grid.select("source", "token", term.alias("term"))
    folded = terms.groupBy("source").agg(
        F.aggregate(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(F.col("token").alias("tk"), F.col("term").alias("t"))
                    )
                ),
                lambda s: s.getField("t"),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("js"),
        F.count(F.lit(1)).cast("long").alias("n_tokens_grid"),
    )
    return folded.select(
        "source", "n_tokens_grid", round_det(F.col("js"), 6).alias("js_bits")
    )


def nb_confusion(
    documents: DataFrame, predictions: DataFrame | None = None
) -> DataFrame:
    """Per-class evaluation of the NB classifier on its held-out fold:
    confusion counts plus per-true-class precision/recall — the eval
    table that turns "a model ran" into "a model is this good".

    Pure aggregation over nb_classify's output: one count per
    (true, predicted) cell, window totals for the margins. Ratios are
    exact-integer divisions rounded 4dp. The prediction table (one row
    per test doc) is materialized first so the confusion aggregate and
    its margin windows plan over a tiny checkpointed input instead of
    appending three more exchanges to the full scoring DAG; callers that
    already hold a materialized prediction table (the production shape:
    score once, evaluate from the stored predictions) pass it via
    ``predictions`` and skip the scoring pass entirely.
    """
    from pyspark.sql.window import Window

    pred = (
        predictions
        if predictions is not None
        else nb_classify(documents).localCheckpoint(eager=True)
    )
    cells = pred.groupBy("true_lang", "predicted_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w_true = Window.partitionBy("true_lang")
    w_pred = Window.partitionBy("predicted_lang")
    return cells.select(
        "true_lang",
        "predicted_lang",
        "n",
        round_det(
            F.when(
                F.col("true_lang") == F.col("predicted_lang"),
                F.col("n").cast("double") / F.sum("n").over(w_true).cast("double"),
            ),
            4,
        ).alias("recall"),
        round_det(
            F.when(
                F.col("true_lang") == F.col("predicted_lang"),
                F.col("n").cast("double") / F.sum("n").over(w_pred).cast("double"),
            ),
            4,
        ).alias("precision"),
    )


def vocabulary_growth(documents: DataFrame) -> DataFrame:
    """Heaps'-law curve: distinct vocabulary size vs cumulative tokens
    as the corpus grows in doc_id order — the saturation signal that
    tells a data pipeline when more of the same source stops adding new
    vocabulary.

    Same one-pass shape as user_growth: each token's FIRST doc
    (min doc_id) marks where it enters the vocabulary; per-doc new-token
    counts and token totals then fold into running sums.

    Scale shape: the running sums go through
    partitioning.prefix_sum_before (two-level bucketed prefix over the
    one-row-per-doc table) instead of a partition-less cumulative
    window — the r5 version's ``ORDER BY doc_id`` window was a serial
    stage proportional to corpus size. Inclusive cum = exclusive
    prefix + own row, exact integer arithmetic, identical output.
    """
    toks = H.tokens_col("text")
    ex = documents.select("doc_id", F.explode(toks).alias("token"))
    per_doc = ex.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens")
    )
    firsts = (
        ex.groupBy("token")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("new_vocab"))
    )
    joined = per_doc.join(firsts, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("new_vocab", F.lit(0).cast("long")).alias("new_vocab"),
    )
    from clusterforge_spark.functions.partitioning import prefix_sum_before

    pre = prefix_sum_before(joined, "doc_id", ("n_tokens", "new_vocab"))
    return pre.select(
        "doc_id",
        "n_tokens",
        "new_vocab",
        (F.col("cum_n_tokens") + F.col("n_tokens")).cast("long").alias("cum_tokens"),
        (F.col("cum_new_vocab") + F.col("new_vocab")).cast("long").alias("vocab_size"),
    )


def zipf_slope(documents: DataFrame, k: int = 100) -> DataFrame:
    """Zipf rank-frequency slope: regress log2(frequency) on log2(rank)
    over the top-k vocabulary — natural language sits near slope -1, so
    a drifting slope flags template spam or synthetic filler in a crawl
    slice.

    Frequencies and ranks are exact integers; both logs are rounded to
    6dp micro-unit BIGINTs, so the regression's sufficient statistics
    are order-independent INTEGER sums (products stay < 2^63 for any
    realistic k) and the slope is bit-stable. One token aggregate + a
    k-row window; the regression is O(1) arithmetic on one row.
    """
    from pyspark.sql.window import Window

    vocab = (
        documents.select(F.explode(H.tokens_col("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ranked = vocab.select(
        "token",
        "n",
        F.row_number()
        .over(Window.orderBy(F.col("n").desc(), F.col("token")))
        .alias("rank"),
    ).filter(F.col("rank") <= k)

    def micro_log2(c):
        return F.floor(F.log2(c.cast("double")) * F.lit(1e6) + F.lit(0.5)).cast("long")

    pts = ranked.select(
        micro_log2(F.col("rank")).alias("x"), micro_log2(F.col("n")).alias("y")
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n_, sx, sy = (
        F.col("cnt").cast("double"),
        F.col("sx").cast("double") / 1e6,
        F.col("sy").cast("double") / 1e6,
    )
    sxy = F.col("sxy").cast("double") / 1e12
    sxx = F.col("sxx").cast("double") / 1e12
    # try_divide: identical IEEE division on real corpora, NULL instead
    # of an ANSI DIVIDE_BY_ZERO on a degenerate (single-rank) vocabulary
    slope = F.try_divide(n_ * sxy - sx * sy, n_ * sxx - sx * sx)
    return s.select(
        F.col("cnt").cast("long").alias("k"),
        round_det(slope, 6).alias("slope"),
        round_det(F.try_divide(sy - slope * sx, n_), 6).alias("intercept"),
    )


def cross_source_contamination(documents: DataFrame, n: int = 5) -> DataFrame:
    """Pairwise corpus-overlap between sources: shared distinct
    ``n``-gram shingles and the shingle-set Jaccard, one row per
    unordered source pair — the crawl-slice contamination report a
    training pipeline checks before mixing corpora (same measure as
    benchmark-contamination, lifted from doc-level to corpus-level).

    Shingles are md5-hashed to 60-bit ints up front (the engine's
    standard shingle idiom — one hash per shingle, then integer set
    ops); the working set is DISTINCT (source, shingle) rows, so volume
    is the per-source vocabulary, not the corpus; the pair join is on
    the shingle-hash key and emits at most #sources² rows per shingle.
    Exact integer counts + one rounded division → oracle-exact.
    """
    from clusterforge_spark.functions.partitioning import spread_partitions

    # Tokenize BELOW the spread exchange (one cheap split per doc), build
    # shingles from the materialized token array ABOVE it: inlining
    # H.shingles_col directly re-evaluates the whole tokenization once per
    # element_at inside the Generate (measured 4.5 s vs 0.9 s for this
    # pass at sf0.1) — the exchange is the projection barrier that keeps
    # `t` a real column. CACHE the result: it is referenced three times
    # below (both join sides + sizes). One row per distinct
    # (source, shingle) — the per-source vocabulary, tiny vs the corpus.
    pre = spread_partitions(
        documents.select("doc_id", "source", H.tokens_col("text").alias("t")),
        "doc_id",
    )
    sh = (
        pre.select(
            "source",
            F.explode(
                F.transform(
                    H.shingles_from_tokens("t", n=n),
                    lambda s: F.conv(F.md5(s).substr(1, 15), 16, 10).cast("long"),
                )
            ).alias("sh"),
        )
        .distinct()
        .cache()
    )
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n_sh").alias("n_shingles_a"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n_sh").alias("n_shingles_b"))
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shingles_a",
            "n_shingles_b",
            "n_shared",
            round_det(
                F.col("n_shared").cast("double")
                / (
                    F.col("n_shingles_a") + F.col("n_shingles_b") - F.col("n_shared")
                ).cast("double"),
                6,
            ).alias("shingle_jaccard"),
        )
    )


def source_mixing_weights(documents: DataFrame) -> DataFrame:
    """Static data-mixing rebalance: per-source token shares and the
    sampling weight that moves the mix to a UNIFORM token budget across
    sources (the DoReMi-style reweighting's closed-form baseline) — the
    report a pipeline computes before drawing a training mixture.

    One grouped aggregate (source → docs, whitespace tokens) plus a
    broadcast 1-row total; weight = target_share / current_share with
    ``try_divide`` so an empty source yields NULL, not an ANSI error.
    Exact integer counts, two rounded divisions → oracle-exact.
    """
    per = documents.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(H.tokens_col("text"))).cast("long").alias("n_tokens"),
    )
    tot = per.agg(
        F.sum("n_tokens").alias("tot_tokens"),
        F.count(F.lit(1)).cast("double").alias("n_sources"),
    )
    share = F.col("n_tokens").cast("double") / F.col("tot_tokens").cast("double")
    target = F.lit(1.0) / F.col("n_sources")
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        round_det(share, 6).alias("token_share"),
        round_det(F.try_divide(target, share), 6).alias("mix_weight"),
    )


#: Quality-funnel gate thresholds (standard curation defaults).
FUNNEL_QUALITY_MIN = 0.5
FUNNEL_TOP2_MAX = 0.2
FUNNEL_DUP3_MAX = 0.3


#: the funnel's gate names, in sequential order (shared with the
#: curation pipeline's reject attribution)
FUNNEL_GATES = (
    "lang_en",
    "not_benchmark",
    "quality",
    "repetition",
    "decontaminated",
)


def funnel_gate_labels(documents: DataFrame) -> DataFrame:
    """(doc_id, gate) — ``'kept'`` or the FIRST failed gate of the
    sequential curation funnel. The SINGLE definition of the gate
    predicates and their order: :func:`quality_funnel` derives its
    attrition report from these labels and the curation pipeline
    (clusterforge_spark.curation) partitions the corpus with them, so
    the two can never silently diverge.

    Composes the per-doc signals (quality_score, repetition_stats,
    contamination_check) via doc_id joins — three linear passes at any
    scale — then one first-failure when-chain.
    """
    q = quality_score(documents).select("doc_id", "quality")
    r = repetition_stats(documents).select(
        "doc_id", "top_2gram_frac", "dup_3gram_frac"
    )
    c = contamination_check(documents).select("doc_id", "is_contaminated")
    j = (
        documents.select("doc_id", "lang")
        .join(q, "doc_id")
        .join(r, "doc_id")
        .join(c, "doc_id", "left")
    )
    gate = (
        F.when(F.col("lang") != "en", F.lit(FUNNEL_GATES[0]))
        .when(F.col("doc_id") % CONTAM_BENCH_MOD == 0, F.lit(FUNNEL_GATES[1]))
        .when(F.col("quality") < FUNNEL_QUALITY_MIN, F.lit(FUNNEL_GATES[2]))
        .when(
            (F.col("top_2gram_frac") > FUNNEL_TOP2_MAX)
            | (F.col("dup_3gram_frac") > FUNNEL_DUP3_MAX),
            F.lit(FUNNEL_GATES[3]),
        )
        .when(F.coalesce("is_contaminated", F.lit(False)), F.lit(FUNNEL_GATES[4]))
        .otherwise(F.lit("kept"))
    )
    return j.select("doc_id", gate.alias("gate"))


def quality_funnel(documents: DataFrame) -> DataFrame:
    """End-to-end curation funnel: the sequential gate pipeline a
    training corpus actually goes through — language filter, benchmark
    holdout removal, quality floor, Gopher repetition caps, n-gram
    decontamination — with per-gate attrition counts (the report every
    data-curation run ships).

    Derived from :func:`funnel_gate_labels` (the single gate
    definition): one conditional aggregate counts each gate's
    first-failures, and the sequential survivor counts fall out as
    kᵢ = n₀ − Σ_{j≤i} cⱼ (a doc fails at gate ≤ i iff its first
    failure is at gate ≤ i) — identical values to folding the flag
    conjunctions directly. Exact integer counts → oracle-exact.
    """
    labels = funnel_gate_labels(documents)
    aggs = [F.count(F.lit(1)).cast("long").alias("n0")]
    for i, g in enumerate(FUNNEL_GATES, start=1):
        aggs.append(
            F.sum((F.col("gate") == g).cast("long")).cast("long").alias(f"c{i}")
        )
    one = labels.agg(*aggs)
    rows = []
    prev = F.col("n0")
    for i, g in enumerate(FUNNEL_GATES, start=1):
        kept = prev - F.col(f"c{i}")
        rows.append(
            F.struct(
                F.lit(i).cast("long").alias("gate_idx"),
                F.lit(g).alias("gate"),
                prev.alias("n_in"),
                kept.alias("n_kept"),
                (prev - kept).alias("n_dropped"),
            )
        )
        prev = kept
    return (
        one.select(F.explode(F.array(*rows)).alias("p"))
        .select("p.*")
    )


#: BM25 parameters (the standard Robertson defaults) and the fixed
#: benchmark query used by the contract query.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("hash", "join", "spark")
BM25_TOPK = 50


def bm25_topk(
    documents: DataFrame,
    query_terms: tuple[str, ...] = BM25_QUERY,
    k1: float = BM25_K1,
    b: float = BM25_B,
    k: int = BM25_TOPK,
) -> DataFrame:
    """BM25 ranked retrieval: top-``k`` documents for a term query — the
    lexical-search primitive behind corpus exploration and RAG hybrid
    retrieval.

    score(d) = Σ_q idf(q) · tf·(k1+1) / (tf + k1·(1 − b + b·|d|/avgdl)),
    idf(q) = ln((N − df + 0.5)/(df + 0.5) + 1)  (the Lucene-style
    non-negative idf).

    Scale shape: ZERO data shuffles. Per-term tf is a map-only
    ``size(filter(tokens, = term))`` column (the query has a handful of
    terms — a posting-list explode+groupBy would shuffle term
    occurrences for nothing), so the only aggregate is ONE global
    1-row reduction producing every per-term df plus (N, Σ|d|), which
    broadcasts back into a second map-only scoring pass; top-k is
    ORDER BY + LIMIT (TakeOrderedAndProject — no global sort
    materialization). Determinism: each (doc, term) partial score is
    rounded to 6dp micro-units and summed as exact BIGINTs (the
    unigram_logprob trick), so the per-doc sum is order-independent and
    the (score, doc_id) ranking is bit-stable on any engine.
    """
    from clusterforge_spark.functions.partitioning import spread_partitions

    terms = list(query_terms)
    k1p1 = k1 + 1.0
    # tokenize above a spread exchange: single-file scans are one
    # partition and the tokenizer would otherwise run on one core
    docs = spread_partitions(
        documents.select("doc_id", "text"), "doc_id"
    ).select("doc_id", H.tokens_col("text").alias("t"))
    def _eq(term: str):
        # one-arg lambda REQUIRED: F.filter dispatches on lambda arity,
        # and a two-arg signature (e.g. the term=term default-capture
        # idiom) is called as (element, index) instead
        return lambda x: x == F.lit(term)

    tf_cols = [
        F.size(F.filter("t", _eq(term))).cast("double").alias(f"tf_{i}")
        for i, term in enumerate(terms)
    ]
    per = docs.select(F.size("t").cast("long").alias("dl"), "doc_id", *tf_cols)
    stats = per.agg(
        F.sum("dl").cast("double").alias("sum_dl"),
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("double")).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )
    avgdl = F.col("sum_dl") / F.col("n_docs")
    matched = per.filter(
        " OR ".join(f"tf_{i} > 0" for i in range(len(terms)))
    ).crossJoin(F.broadcast(stats))

    def _micro(i: int):
        idf = F.log(
            (F.col("n_docs") - F.col(f"df_{i}") + F.lit(0.5))
            / (F.col(f"df_{i}") + F.lit(0.5))
            + F.lit(1.0)
        )
        den = F.col(f"tf_{i}") + F.lit(k1) * (
            F.lit(1.0) - F.lit(b) + F.lit(b) * (F.col("dl").cast("double") / avgdl)
        )
        score = idf * (F.col(f"tf_{i}") * F.lit(k1p1) / den)
        # unmatched terms contribute exactly 0 micro-units (tf = 0 ⇒
        # score = 0 ⇒ floor(0.5) = 0) — identical to the posting-join
        # form, which simply had no row for them
        return F.floor(score * F.lit(1e6) + F.lit(0.5)).cast("long")

    per_doc = matched.select(
        "doc_id",
        "dl",
        sum(
            [(F.col(f"tf_{i}") > 0).cast("long") for i in range(len(terms))],
            F.lit(0),
        ).alias("n_terms_matched"),
        sum([_micro(i) for i in range(len(terms))], F.lit(0)).alias("score_micro"),
    )
    return (
        per_doc.orderBy(F.col("score_micro").desc(), F.col("doc_id").asc())
        .limit(k)
        .select(
            "doc_id",
            F.col("dl").alias("n_tokens"),
            "n_terms_matched",
            round_det(F.col("score_micro").cast("double") / F.lit(1e6), 6).alias(
                "score"
            ),
        )
    )


def bigram_logprob(documents: DataFrame) -> DataFrame:
    """Corpus-self BIGRAM log-probability per document — the next step up
    from :func:`unigram_logprob` on the LM-quality ladder: documents with
    plausible word ORDER score higher than bags of frequent words, which
    is exactly what separates fluent text from keyword spam.

    P(w₂|w₁) = (c(w₁,w₂) + 1) / (c(w₁·) + V)   (add-one smoothing over
    the corpus vocabulary), reported as the per-doc mean log2 P over its
    bigrams. Same determinism scheme as the unigram scorer: each
    bigram's log2-probability is floor-rounded to 6dp BIGINT micro-units
    so the per-doc sum is order-independent exact arithmetic.

    Scale shape: one spread exchange materializes tokens (the
    long-document rule), then two count aggregates (bigram table,
    first-token table) and one scalar vocab count; the scoring join is
    a plain equi-join on the bigram string that AQE broadcasts while the
    model fits — at 100 TB it degrades to a shuffle join instead of
    OOMing. Docs with < 2 tokens have no bigrams and are excluded.
    """
    from clusterforge_spark.functions.partitioning import spread_partitions

    # ONE tokenize pass, cached: the bigram stream and the vocabulary
    # count both read the materialized token arrays instead of each
    # re-running scan+tokenize — and unlike the previous per-call eager
    # localCheckpoint, CacheManager resolves repeat invocations to the
    # same InMemoryRelation (the shingle-table pattern), so a session
    # pays the tokenize once per corpus snapshot, not once per call
    toked_all = spread_partitions(
        documents.select("doc_id", H.tokens_col("text").alias("t")), "doc_id"
    ).cache()
    toked = toked_all.filter(F.size("t") >= 2)
    ex = toked.select(
        "doc_id", F.explode(_grams_from_tokens("t", 2)).alias("bg")
    )
    bg_counts = ex.groupBy("bg").agg(F.count(F.lit(1)).alias("c_bg"))
    w1_counts = (
        ex.select(F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c_w1"))
    )
    vocab_n = (
        toked_all.select(F.explode("t").alias("token"))
        .select("token")
        .distinct()
        .agg(F.count(F.lit(1)).alias("v"))
    )
    lp = F.log2(
        (F.col("c_bg") + 1).cast("double") / (F.col("c_w1") + F.col("v")).cast("double")
    )
    lp_micro = F.floor(lp * F.lit(1e6) + F.lit(0.5)).cast("long")
    scored = (
        ex.join(bg_counts, "bg")
        .join(
            w1_counts,
            F.split_part(F.col("bg"), F.lit(" "), F.lit(1)) == F.col("w1"),
        )
        .crossJoin(F.broadcast(vocab_n))
        .select("doc_id", lp_micro.alias("m"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("m").alias("sum_micro"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            round_det(
                F.col("sum_micro").cast("double")
                / F.lit(1e6)
                / F.col("n_bigrams").cast("double"),
                4,
            ).alias("mean_log2p"),
        )
    )


def readability_profile(documents: DataFrame) -> DataFrame:
    """Corpus-level Flesch reading-ease per language:
    206.835 − 1.015·(words/sentences) − 84.6·(syllables/words) on the
    per-language SUMS — the fluency-band profile curation pipelines use
    to set per-language quality thresholds (per-doc Flesch is noisy on
    short documents; the corpus-level ratio is the stable signal).

    Counts are engine-agnostic integers: words from the shared
    tokenizer, sentences as non-overlapping ``[.!?]+`` runs (min 1 per
    doc), syllables approximated as vowel-group runs ``[aeiouy]+`` —
    greedy non-overlapping matches that every regex engine counts
    identically. One grouped aggregate; the Flesch formula is arithmetic
    on exact sums.
    """
    per = documents.select(
        "lang",
        F.size(H.tokens_col("text")).cast("long").alias("w"),
        F.greatest(
            F.expr("regexp_count(text, '[.!?]+')").cast("long"), F.lit(1)
        ).alias("s"),
        F.expr("regexp_count(lower(text), '[aeiouy]+')").cast("long").alias("y"),
    )
    agg = per.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("w").cast("long").alias("words"),
        F.sum("s").cast("long").alias("sentences"),
        F.sum("y").cast("long").alias("syllables"),
    )
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * F.col("words").cast("double") / F.col("sentences").cast("double")
        - F.lit(84.6) * F.col("syllables").cast("double") / F.col("words").cast("double")
    )
    return agg.select(
        "lang", "n_docs", "words", "sentences", "syllables",
        round_det(flesch, 4).alias("flesch"),
    )


PMI_MIN_COUNT = 5
PMI_TOP_K = 50


def pmi_collocations(
    documents: DataFrame, min_count: int = PMI_MIN_COUNT, k: int = PMI_TOP_K
) -> DataFrame:
    """Top-``k`` collocations by pointwise mutual information —
    PMI(w₁,w₂) = log₂ P(w₁w₂)/(P(w₁)P(w₂)) over adjacent token pairs,
    the classic multi-word-expression finder (Church & Hanks 1990) run
    when building tokenizer merge candidates or phrase vocabularies.

    Determinism: PMI's argument is the exact integer ratio
    c_bg·N_uni² / (N_bi·c_w1·c_w2) carried in decimal(38,0) (c·N² can
    pass 2⁶³ at corpus scale), so both engines take log₂ of the same
    double; the top-k cut orders by that ratio with the bigram string
    as tie-break — boundary ties cannot flap.

    Scale shape: one cached tokenize pass (shared with the LM scorers
    via CacheManager), two count aggregates, two vocab-sized equi-joins
    (AQE broadcasts while the model fits), and a distributed
    TakeOrderedAndProject for the top-k — no single-partition window,
    no driver collect. The unigram table is cached too: it feeds BOTH
    join sides (w1 and w2), and uncached each reference re-ran the
    full-corpus token explode + groupBy. The totals never explode at
    all — N_uni is Σ size(t) and N_bi is Σ (size(t)−1 | size ≥ 2) over
    the cached token arrays, integer-identical to summing the exploded
    counts (the earlier shape re-derived N_uni by recomputing the
    unigram aggregate a third time and N_bi by a second bigram
    explode).
    """
    from clusterforge_spark.functions.partitioning import spread_partitions

    toked_all = spread_partitions(
        documents.select("doc_id", H.tokens_col("text").alias("t")), "doc_id"
    ).cache()
    uni = (
        toked_all.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_w"))
    ).cache()
    n_uni = toked_all.agg(
        F.coalesce(F.sum(F.greatest(F.size("t"), F.lit(0))), F.lit(0))
        .cast("long")
        .alias("n_uni")
    )
    n_bi = toked_all.filter(F.size("t") >= 2).agg(
        F.coalesce(F.sum(F.size("t") - 1), F.lit(0)).cast("long").alias("n_bi")
    )
    bgc = (
        toked_all.filter(F.size("t") >= 2)
        .select(F.explode(_grams_from_tokens("t", 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c_bg"))
        .filter(F.col("c_bg") >= min_count)
    )
    j = (
        bgc.select(
            "bigram",
            "c_bg",
            F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)).alias("w1"),
            F.split_part(F.col("bigram"), F.lit(" "), F.lit(2)).alias("w2"),
        )
        .join(uni.select(F.col("w").alias("w1"), F.col("c_w").alias("c_w1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c_w").alias("c_w2")), "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
    )
    ratio = F.expr(
        "cast(cast(c_bg as decimal(38,0)) * n_uni * n_uni as double)"
        " / cast(cast(n_bi as decimal(38,0)) * c_w1 * c_w2 as double)"
    )
    return (
        j.select(
            "bigram",
            F.col("c_bg").cast("long").alias("c_bigram"),
            F.col("c_w1").cast("long").alias("c_w1"),
            F.col("c_w2").cast("long").alias("c_w2"),
            round_det(F.log2(ratio), 4).alias("pmi"),
            ratio.alias("_r"),
        )
        .orderBy(F.col("_r").desc(), F.col("bigram").asc())
        .limit(k)
        .drop("_r")
    )


def boilerplate_prefixes(
    docs: DataFrame, prefix_len: int = 48, min_docs: int = 2
) -> DataFrame:
    """Shared-prefix boilerplate detection: prefixes (first
    ``prefix_len`` chars, lowercased) that open ``min_docs``+ documents
    — the cheap first-pass template/boilerplate finder (license headers,
    scraped navigation chrome, form letters) every curation pipeline
    runs before the expensive near-dup strategies.

    ONE hash aggregate on a fixed-width key: group by the prefix, count
    docs and distinct sources, keep the smallest doc id as the exemplar.
    Map-side combine collapses each partition's repeats before the
    shuffle, so bytes moved ∝ distinct prefixes — at 100 TB this is the
    same single-exchange shape as any word count.
    """
    pre = docs.select(
        "doc_id", "source", F.lower(F.substring("text", 1, prefix_len)).alias("prefix")
    )
    return (
        pre.groupBy("prefix")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.min("doc_id").alias("exemplar_id"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def vocab_jaccard_sources(documents: DataFrame) -> DataFrame:
    """Pairwise Jaccard similarity between SOURCE vocabularies —
    |V_a ∩ V_b| / |V_a ∪ V_b| over distinct shared-tokenizer tokens —
    the corpus-mixing diagnostic that says which sources are lexically
    redundant before a pipeline weights them (companion to
    kl_divergence_by_source, which compares frequency SHAPES; this
    compares membership).

    Scale shape: the only row-data pass is the distinct (source, token)
    projection (map-side combine collapses repeats pre-shuffle, bytes ∝
    vocabulary). The intersection self-join keys on TOKEN where each
    side holds a token at most once per source, so per-token join output
    is ≤ C(n_sources, 2) — bounded by the source count, never by corpus
    size. Per-source vocabulary sizes broadcast back onto the pair rows.

    Determinism: intersection/union are exact integers; jaccard is one
    double division rounded 6dp.
    """
    vocab = (
        documents.select(
            "source", F.explode(H.tokens_col("text")).alias("token")
        )
        .distinct()
    )
    # vocab backs FOUR subtrees (sizes + both self-join sides, sizes
    # twice) under different partitionings — unmaterialized, each
    # re-runs the corpus tokenize+explode+distinct. The table itself is
    # bounded by vocabulary (compresses as the corpus grows), so above
    # the text-scoring gate the checkpointed copy wins (4 corpus
    # tokenize passes → 1).
    vocab = _materialize_scored(vocab, documents)
    sizes = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("vsz"))
    a = vocab.select(F.col("source").alias("s1"), "token")
    b = vocab.select(F.col("source").alias("s2"), F.col("token").alias("t2"))
    inter = (
        a.join(b, (F.col("token") == F.col("t2")) & (F.col("s1") < F.col("s2")))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    out = (
        inter.join(
            F.broadcast(sizes.select(F.col("source").alias("s1"), F.col("vsz").alias("v1"))),
            "s1",
        )
        .join(
            F.broadcast(sizes.select(F.col("source").alias("s2"), F.col("vsz").alias("v2"))),
            "s2",
        )
    )
    union = F.col("v1") + F.col("v2") - F.col("n_inter")
    return out.select(
        "s1",
        "s2",
        F.col("n_inter").cast("long").alias("n_inter"),
        union.cast("long").alias("n_union"),
        round_det(F.col("n_inter").cast("double") / union.cast("double"), 6).alias(
            "jaccard"
        ),
    )


#: bucket shift for the pooled order-statistic lookup join: each bucket
#: covers 2^12 consecutive pooled rank positions.
QNORM_BUCKET_SHIFT = 12


def quantile_normalize_lengths(documents: DataFrame) -> DataFrame:
    """Exact cross-source quantile normalization of document length:
    each doc's length is replaced by the POOLED corpus length at the
    same within-source percentile — the distribution-alignment step a
    curation pipeline runs before applying one global length policy to
    heterogeneous sources (a p90 web doc and a p90 academic doc map to
    the same normalized value even though their raw lengths differ).

    Semantics: within-source mid-rank percentile p = (r̄ − ½)/n_s
    (average-ties rank r̄), mapped through the pooled inverse ECDF with
    quantile_cont linear interpolation at index x = (N−1)·p. Everything
    is exact integer arithmetic until the final interpolation: doubled
    ranks r2 = 2·cum + cnt + 1 make p = (r2 − 1)/(2n_s); the index
    splits as k = num div D, frac = (num mod D)/D with
    num = (N−1)(r2−1) and D = 2n_s carried in decimal(38,0) (the
    product overflows int64 at corpus scale).

    Scale shape: per-source ranks come from a window PARTITIONED by
    source over the (source, length) histogram — parallel across
    sources, rows ∝ distinct lengths. The pooled order-statistic
    lookup v[k] is the range-join trap solved the range_join_bands
    way: each pooled distinct-length row explodes to the fixed 2^12
    rank buckets its [cum, cum+cnt) span covers, the doc side computes
    its bucket by shift, and the lookup is an EQUI-join on the bucket
    with the span containment as residual filter — never a nested
    loop, never a data-proportional broadcast. frac = rem/D is the one
    double division (exact below 2^53 — i.e. up to ~4.5e15 docs per
    source).
    """
    from pyspark.sql.window import Window

    from clusterforge_spark.functions.partitioning import prefix_sum_before

    d = documents.select("doc_id", "source", F.col("n_chars").cast("long").alias("s"))

    # within-source doubled average-ties ranks off the (source, s) histogram
    shist = d.groupBy("source", "s").agg(F.count(F.lit(1)).alias("cnt"))
    ws = (
        Window.partitionBy("source")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sc = shist.withColumn("cum", F.coalesce(F.sum("cnt").over(ws), F.lit(0)))
    sc = sc.withColumn("r2", (F.lit(2) * F.col("cum") + F.col("cnt") + F.lit(1)))
    ns = shist.groupBy("source").agg(F.sum("cnt").cast("long").alias("n_s"))
    n_row = d.agg(F.count(F.lit(1)).cast("long").alias("n_total"))

    # n_total rides on the per-source table (sources × 1 rows) so the
    # only nested-loop join in the plan is metadata × metadata; the doc
    # side sees one broadcast HASH join keyed by source
    ns2 = ns.crossJoin(n_row)
    ranked = d.join(sc.select("source", "s", "r2"), ["source", "s"]).join(
        F.broadcast(ns2), "source"
    )
    dec = "decimal(38,0)"
    ranked = (
        ranked.withColumn(
            "num",
            (F.col("n_total") - F.lit(1)).cast(dec)
            * (F.col("r2") - F.lit(1)).cast(dec),
        )
        .withColumn("dd", (F.lit(2) * F.col("n_s")).cast(dec))
        .withColumn("kq", F.expr("cast(div(num, dd) as bigint)"))
        .withColumn(
            "frac",
            (F.col("num") - F.col("kq").cast(dec) * F.col("dd")).cast("double")
            / F.col("dd").cast("double"),
        )
        .withColumn(
            "kq1", F.least(F.col("kq") + F.lit(1), F.col("n_total") - F.lit(1))
        )
    )

    # pooled order statistics: distinct-length spans over global rank space
    ph = d.groupBy("s").agg(F.count(F.lit(1)).alias("cnt"))
    pr = prefix_sum_before(ph, "s", ["cnt"]).select(
        F.col("s").alias("v"),
        F.col("cum_cnt").alias("lo"),
        (F.col("cum_cnt") + F.col("cnt")).alias("hi"),
    )
    spans = pr.select(
        "v",
        "lo",
        "hi",
        F.explode(
            F.sequence(
                F.shiftright("lo", QNORM_BUCKET_SHIFT),
                F.shiftright(F.col("hi") - F.lit(1), QNORM_BUCKET_SHIFT),
            )
        ).alias("bkt"),
    )

    # both lookups in ONE pass over ranked: explode each doc to its two
    # indexes (k, k+1), bucket-join once, regroup by doc — the
    # doc-proportional rank frame is consumed a single time instead of
    # feeding three physical subtrees
    two = ranked.select(
        "doc_id",
        "source",
        "s",
        "r2",
        "n_s",
        "frac",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("which"), F.col("kq").alias("_k")),
                F.struct(F.lit(1).alias("which"), F.col("kq1").alias("_k")),
            )
        ).alias("kk"),
    ).select(
        "doc_id",
        "source",
        "s",
        "r2",
        "n_s",
        "frac",
        F.col("kk.which").alias("which"),
        F.col("kk._k").alias("_k"),
    )
    hit = (
        two.withColumn("bkt", F.shiftright("_k", QNORM_BUCKET_SHIFT))
        .join(spans, "bkt")
        .filter((F.col("_k") >= F.col("lo")) & (F.col("_k") < F.col("hi")))
    )
    out = hit.groupBy("doc_id", "source", "s", "r2", "n_s", "frac").agg(
        F.min(F.when(F.col("which") == 0, F.col("v"))).alias("vk"),
        F.min(F.when(F.col("which") == 1, F.col("v"))).alias("vk1"),
    )
    return out.select(
        "doc_id",
        "source",
        F.col("s").alias("n_chars"),
        round_det(
            (F.col("r2") - F.lit(1)).cast("double")
            / (F.lit(2.0) * F.col("n_s").cast("double")),
            6,
        ).alias("src_pct"),
        round_det(
            F.col("vk").cast("double")
            + F.col("frac") * (F.col("vk1") - F.col("vk")).cast("double"),
            6,
        ).alias("normalized_len"),
    )


def wasserstein_length_by_source(
    documents: DataFrame, materialize_bytes: int = 8 << 20
) -> DataFrame:
    """Exact Wasserstein-1 (earth-mover) distance between each source's
    doc-length distribution and the pooled corpus — the integral
    companion to the KS max-gap and PSI bucket tests: W1 = ∫|F_s − F_p|
    over the length axis, in character units ("how many characters of
    mass must move to align this source with the corpus").

    Exactness discipline: the naive Σ|cumS/nS − cumP/N|·gap sums
    arbitrary doubles, whose partition order would leak into the
    result. Instead each term's numerator |cumS·N − cumP·nS|·gap is an
    exact decimal(38,0) integer, summed exactly, with ONE double
    division by nS·N at the end (6dp) — order-independent under any
    partitioning. (Headroom: the numerator sum stays inside 38 digits
    up to ~1e12 docs with 1e6-char lengths.)

    Scale shape: the value grid is sources × pooled-distinct-lengths
    (sources are dim-sized; distinct lengths are domain-bounded). The
    pooled CDF uses the distributed prefix sum; per-source CDFs use
    windows PARTITIONED by source — parallel across sources. One
    equi-join on length, no nested loops.
    """
    from pyspark.sql.window import Window

    from clusterforge_spark.functions.partitioning import prefix_sum_before

    from clusterforge_spark.functions.partitioning import source_bytes

    d = documents.select("source", F.col("n_chars").cast("long").alias("v"))

    # ONE corpus pass builds the (source, length) histogram; the pooled
    # histogram, the total count and the per-source sizes all derive
    # from it by integer re-aggregation (sum of per-source counts ==
    # the direct count, exactly) — the histogram is bounded by
    # sources × distinct lengths, so the re-aggregations never touch
    # corpus-scale rows. Above the re-scan gate the histogram is lazily
    # localCheckpointed so its four consumers read one materialization
    # instead of re-planning the corpus aggregate each (3 corpus scans
    # → 1 at scale; below the gate the re-scan is noise).
    shist = d.groupBy("source", "v").agg(F.count(F.lit(1)).alias("cnts"))
    if (source_bytes(documents) or 0) > materialize_bytes:
        shist = shist.localCheckpoint(eager=False)

    ph = shist.groupBy("v").agg(F.sum("cnts").alias("cntp"))
    pooled = prefix_sum_before(ph, "v", ["cntp"]).select(
        "v", "cntp", (F.col("cum_cntp") + F.col("cntp")).alias("cump")
    )
    n_row = shist.agg(F.sum("cnts").cast("long").alias("n_total"))

    ns = shist.groupBy("source").agg(F.sum("cnts").cast("long").alias("n_s"))

    # pooled (data-proportional) is the big side; the sources×1 scalar
    # frame broadcasts, so the grid build is map-side over pooled
    grid = (
        pooled.select("v", "cump")
        .crossJoin(F.broadcast(ns.crossJoin(n_row)))
        .join(shist, ["source", "v"], "left")
        .fillna({"cnts": 0})
    )
    wsrc = Window.partitionBy("source").orderBy("v")
    grid = grid.withColumn(
        "cums",
        F.sum("cnts").over(wsrc.rowsBetween(Window.unboundedPreceding, 0)),
    ).withColumn("gap", F.lead("v").over(wsrc) - F.col("v"))

    dec = "decimal(38,0)"
    num = F.abs(
        F.col("cums").cast(dec) * F.col("n_total").cast(dec)
        - F.col("cump").cast(dec) * F.col("n_s").cast(dec)
    ) * F.col("gap").cast(dec)
    agg = (
        grid.filter(F.col("gap").isNotNull())
        .groupBy("source", "n_s", "n_total")
        .agg(F.sum(num).alias("num_sum"))
    )
    return agg.select(
        "source",
        F.col("n_s").alias("n_docs"),
        round_det(
            F.col("num_sum").cast("double")
            / (F.col("n_s").cast("double") * F.col("n_total").cast("double")),
            6,
        ).alias("w1_len"),
    )


def lexical_richness(documents: DataFrame) -> DataFrame:
    """Per-source lexical-richness profile: type-token ratio and hapax
    legomena share — the vocabulary-health signal that separates
    natural prose (Zipf tail of one-off words) from template/generated
    text (tiny vocabulary reused), complementing repetition_stats
    (within-doc) with a cross-corpus view.

    explode(tokens) → one (source, token) count aggregate (map-side
    partial absorbs per-doc repetition before the shuffle) → one
    ≤|sources| re-aggregate. Exact integer counts; ratios 6dp.
    """
    ex = documents.select(
        "source", F.explode(H.tokens_col("text")).alias("token")
    )
    tc = ex.groupBy("source", "token").agg(F.count(F.lit(1)).alias("cnt"))
    return tc.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.expr("case when cnt = 1 then 1 else 0 end")).cast("long").alias(
            "n_hapax"
        ),
        round_det(
            F.expr("cast(count(1) as double) / cast(sum(cnt) as double)"), 6
        ).alias("type_token_ratio"),
        round_det(
            F.expr(
                "cast(sum(case when cnt = 1 then 1 else 0 end) as double)"
                " / cast(count(1) as double)"
            ),
            6,
        ).alias("hapax_share"),
    )


#: feature-hashing width (buckets) — small enough that the per-source
#: output is a bounded ≤ sources × 64 rows at any corpus size.
FEATURE_HASH_W = 64


def feature_hashing(documents: DataFrame, width: int = FEATURE_HASH_W) -> DataFrame:
    """Hashing-trick feature vectorizer (the sklearn FeatureHasher /
    vw-style primitive): every token is folded into one of `width`
    buckets by the engine-exact md5 bucket used by the Count-Min family
    (sketches._bucket semantics, salt 0), and each (source, bucket)
    cell reports its total weight and how many distinct tokens collided
    into it — the collision audit that tells you whether `width` is
    big enough BEFORE training on hashed features.

    explode → one (source, bucket) aggregate with map-side combine;
    distinct-token collisions via an inner (source, bucket, token)
    pre-aggregate. Output is bounded by |sources| × width.
    """
    from clusterforge_spark.operators.sketches import _bucket

    ex = documents.select(
        "source",
        F.explode(H.tokens_col("text")).alias("token"),
    ).select(
        "source", "token", F.expr(_bucket("token", 0, width)).alias("bucket")
    )
    per_tok = ex.groupBy("source", "bucket", "token").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return per_tok.groupBy("source", "bucket").agg(
        F.sum("cnt").cast("long").alias("weight"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_tokens"),
    )


#: token_budget_mix: percent of the corpus token count to fill (integer
#: so the per-source budget stays exact-integer arithmetic)
MIX_BUDGET_PCT = 25

#: scan-size gate for materializing a multiply-consumed scored projection.
#: Text scoring (tokenize + regexp passes over every character) costs far
#: more per input byte than the scan itself, so the bar sits well below
#: spearman_matrix's 8 MB re-scan gate: above ~a quarter MB of source the
#: lazily-checkpointed narrow projection (computed once, each consumer
#: reads materialized blocks) wins over re-running the scoring per branch.
TEXT_MATERIALIZE_BYTES = 256 << 10


def _materialize_scored(df: DataFrame, documents: DataFrame) -> DataFrame:
    """Lazy localCheckpoint of a narrow scored projection when the backing
    ``documents`` scan is large enough that re-evaluating the text-scoring
    expressions per consumer branch dominates (guide §5: cache reused
    intermediates whose recomputation beats the memory pressure; the
    size-adaptive shape of spearman_matrix's materialize decision).
    Falls back to the plain lazy frame when the input isn't a file scan
    (in-memory test frames) or is small enough that re-scan is noise."""
    from clusterforge_spark.functions.partitioning import source_bytes

    src = source_bytes(documents)
    if src is not None and src > TEXT_MATERIALIZE_BYTES:
        return df.localCheckpoint(eager=False)
    return df

#: greedy-fill regime switch: below this many documents (bounded
#: limit-probe, not a count) the per-source running-sum window — whose
#: worst case is ONE source's rows through one task — beats the
#: distributed prefix machinery's extra stages (the rfm_segments
#: pattern; measured 0.35 s vs 1.4 s at 6 500 docs)
TOKEN_FILL_SMALL_N = 1_000_000


def _fill_is_small(
    probe_df: DataFrame, small_n: int | None = None
) -> bool:
    """The greedy-fill regime probe (bounded LIMIT count, never a full
    scan) — exposed so callers can share ONE probe between the regime
    switch and their own materialize-vs-rescan decision."""
    if small_n is None:
        small_n = TOKEN_FILL_SMALL_N
    return small_n > 0 and probe_df.limit(small_n + 1).count() <= small_n


def _greedy_fill_before(
    scored: DataFrame,
    small_n: int | None = None,
    probe: DataFrame | None = None,
    small: bool | None = None,
) -> DataFrame:
    """Adds ``_before`` — the exclusive running token sum per source in
    (quality DESC NULLS LAST, doc_id ASC) order — the greedy
    best-quality-first fill position shared by token_budget_mix and
    curation_pipeline_report.

    Size-adaptive, both regimes bit-identical (r7 verdict item 5).
    Small regime: the classic source-partitioned window (a dominant
    source serializes its own partition — bounded by the branch probe).
    Large regime: the two-level prefix machinery, PARTITIONED BY SOURCE
    (functions/partitioning.prefix_sum_before part_cols) —
    ``_before = strictly-better-quality token sum (per-(source,quality)
    histogram prefix) + within-tie-group prefix (window keyed by
    (source, quality))`` — so even one pathologically dominant source
    never plans a serial full-source sort; the only per-source-global
    window runs over the ≤1 024-row bucket-totals table. Quality is
    4dp-rounded in [0,1]: negated as the ascending order key
    (NULL → -inf before negation reproduces the window's DESC NULLS
    LAST placement), prescaled 2²⁶ so the shift-16 buckets split [0,1]
    into ~1 024 ranges."""
    from pyspark.sql.window import Window

    from clusterforge_spark.functions.partitioning import prefix_sum_before

    if small_n is None:
        small_n = TOKEN_FILL_SMALL_N
    # bounded probe (the pipeline driver-fit discipline): LIMIT small_n+1
    # stops scanning once the branch is decided, never a full count
    # (small_n=0 forces the distributed regime, the rfm_segments idiom).
    # Callers whose `scored` sits above a shuffle (the curation draw is
    # gate→dedup-aggregated) pass the RAW documents frame as ``probe`` —
    # a map-only LIMIT that genuinely short-circuits, and an upper bound
    # on the fill's row count (gate/dedup only remove rows), so the
    # regime choice errs only toward the distributed plan, never toward
    # an unbounded single-task sort (r8 review finding: a LIMIT above a
    # groupBy still runs the whole shuffle map side).
    if small is None:
        small = _fill_is_small(probe if probe is not None else scored, small_n)
    if small:
        w = (
            Window.partitionBy("source")
            .orderBy(F.col("quality").desc(), F.col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return scored.withColumn(
            "_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
        )
    keyed = scored.withColumn(
        "_qkey",
        -F.coalesce(F.col("quality").cast("double"), F.lit(float("-inf"))),
    )
    hist = keyed.groupBy("source", "_qkey").agg(
        F.sum("n_tokens").cast("long").alias("_tc")
    )
    pre = prefix_sum_before(
        hist,
        "_qkey",
        ("_tc",),
        prescale=float(1 << 26),
        part_cols=("source",),
    ).select(
        F.col("source").alias("_ps"),
        F.col("_qkey").alias("_qk2"),
        F.col("cum__tc"),
    )
    w_tie = (
        Window.partitionBy("source", "_qkey")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        keyed.withColumn(
            "_tie", F.coalesce(F.sum("n_tokens").over(w_tie), F.lit(0))
        )
        .join(
            pre,
            F.col("source").eqNullSafe(F.col("_ps"))
            & F.col("_qkey").eqNullSafe(F.col("_qk2")),
        )
        .withColumn("_before", (F.col("cum__tc") + F.col("_tie")).cast("long"))
        .drop("_qkey", "_qk2", "_ps", "_tie", "cum__tc")
    )


def token_budget_mix(documents: DataFrame) -> DataFrame:
    """Greedy best-quality-first token-budget allocation — the step that
    turns mixing WEIGHTS (source_mixing_weights) into an actual
    training-mix draw: give every source an equal slice of a global
    token budget (MIX_BUDGET_PCT% of the corpus) and fill each slice
    with that source's highest-quality documents until the slice is
    spent (the boundary-crossing document is included — the standard
    greedy fill).

    Per-source report: slice size, documents/tokens selected, and the
    fill ratio. budget = (total_tokens · PCT) div (100 · n_sources) is
    pure integer arithmetic; selection position comes from
    :func:`_greedy_fill_before` — size-adaptive: the source-partitioned
    running-sum window below TOKEN_FILL_SMALL_N docs, the two-level
    source-keyed prefix machinery above it, so a pathologically
    dominant source no longer serializes even its own partition
    (r7 verdict item 5; both regimes bit-identical, pinned by
    tests/test_text.py::test_token_budget_mix_regimes_agree and the
    large-regime plan test in tests/test_plans.py).
    """
    # In the small-fill regime scored has only 2 consumers and re-scan is
    # cheaper than a checkpoint (A/B: 0.72 vs 0.81 s at sf0.1); in the
    # distributed regime it has 3 and the corpus is ≥1M docs — materialize
    # exactly then, sharing the fill's own bounded regime probe.
    small_fill = _fill_is_small(documents)
    scored = quality_score(documents, passthrough=("source",))
    if not small_fill:
        scored = scored.localCheckpoint(eager=False)
    tot = scored.agg(
        F.sum("n_tokens").cast("long").alias("_tot"),
        F.countDistinct("source").cast("long").alias("_ns"),
    )
    cum = _greedy_fill_before(scored, probe=documents, small=small_fill)
    sel = cum.crossJoin(F.broadcast(tot)).withColumn(
        "_budget",
        F.expr(f"(_tot * {MIX_BUDGET_PCT}) div (100 * _ns)").cast("long"),
    )
    return (
        sel.filter(F.col("_before") < F.col("_budget"))
        .groupBy("source", F.col("_budget").alias("budget_tokens"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_sel"),
            F.sum("n_tokens").cast("long").alias("n_tokens_sel"),
        )
        .select(
            "source",
            "budget_tokens",
            "n_docs_sel",
            "n_tokens_sel",
            round_det(
                F.try_divide(
                    F.col("n_tokens_sel").cast("double"),
                    F.col("budget_tokens").cast("double"),
                ),
                6,
            ).alias("fill_ratio"),
        )
    )


def token_budget_mix_weighted(documents: DataFrame) -> DataFrame:
    """Temperature-flattened mixture draw (α = 0.5): each source's slice
    of the global token budget is proportional to √(its token count)
    instead of equal or raw-proportional — the standard multilingual /
    multi-domain flattening that up-weights small sources without
    letting one giant source own the mix. The per-slice fill is the
    same greedy best-quality-first scan as token_budget_mix.

    Cross-engine exactness: weights are floor(√t_s) INTEGERS, so the
    weight total is an exact order-free integer sum (a float weight sum
    would make the report depend on partial-aggregation order);
    budget_s = (B · w_s) div W in decimal(38,0) — overflow-free at any
    corpus size. α other than ½ needs pow() bit-parity across engines,
    which IEEE does not promise — √ is correctly rounded everywhere,
    which is why the flattening exponent is fixed at the value the
    recipes actually use.

    Per-source report adds the weight next to budget/selection/fill."""
    # same regime-gated materialization as token_budget_mix (here scored
    # has 4 distributed-regime consumers: per-source totals, corpus
    # total, fill histogram + tie window)
    small_fill = _fill_is_small(documents)
    scored = quality_score(documents, passthrough=("source",))
    if not small_fill:
        scored = scored.localCheckpoint(eager=False)
    per_src = scored.groupBy("source").agg(
        F.sum("n_tokens").cast("long").alias("_ts")
    )
    weights = per_src.select(
        "source",
        F.floor(F.sqrt(F.col("_ts").cast("double"))).cast("long").alias("_w"),
    )
    tot = scored.agg(F.sum("n_tokens").cast("long").alias("_tot"))
    wtot = weights.agg(F.sum("_w").cast("long").alias("_wt"))
    budgets = (
        weights.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(wtot))
        .select(
            "source",
            "_w",
            F.expr(
                f"cast(cast(cast(_tot as decimal(38,0)) * {MIX_BUDGET_PCT}"
                " div 100 as decimal(38,0)) * _w div _wt as bigint)"
            ).alias("_budget"),
        )
    )
    cum = _greedy_fill_before(scored, probe=documents, small=small_fill)
    sel = cum.join(F.broadcast(budgets), "source").filter(
        F.col("_before") < F.col("_budget")
    )
    return (
        sel.groupBy(
            "source",
            F.col("_w").alias("weight"),
            F.col("_budget").alias("budget_tokens"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_sel"),
            F.sum("n_tokens").cast("long").alias("n_tokens_sel"),
        )
        .select(
            "source",
            "weight",
            "budget_tokens",
            "n_docs_sel",
            "n_tokens_sel",
            round_det(
                F.try_divide(
                    F.col("n_tokens_sel").cast("double"),
                    F.col("budget_tokens").cast("double"),
                ),
                6,
            ).alias("fill_ratio"),
        )
    )


def curation_pipeline_report(documents: DataFrame) -> DataFrame:
    """The END-TO-END curation pipeline as ONE report: raw corpus →
    quality gate (quality ≥ FUNNEL_QUALITY_MIN) → exact dedup (md5 of
    the text, keep lowest doc_id) → per-source token-budget fill
    (token_budget_mix's greedy best-quality-first draw over the
    SURVIVORS). Per source: how many documents entered, passed the
    gate, survived dedup, made the budget, and the tokens drawn — the
    one-table answer to "what would training on this corpus actually
    use", composed entirely from the engine's own stages so the whole
    chain stays a lazy DataFrame DAG (and oracle-exact end to end).

    Shapes: the gate is map-only; dedup is one hash aggregate keyed on
    md5(text) (the exact-dedup scale path); the budget fill is the
    source-partitioned exclusive running sum. The four per-source
    counts come from four keyed aggregates joined on the (tiny) source
    dimension.
    """
    from pyspark.sql.window import Window

    # the scored projection feeds FIVE branches (raw counts, gate counts,
    # and the dedup chain's three consumers) — without materialization the
    # plan re-runs the text scoring per branch (measured: 10 parquet scans
    # of documents in the before-plan)
    scored = _materialize_scored(
        quality_score(documents, passthrough=("source", "text")).select(
            "doc_id", "source", "n_tokens", "quality", F.md5("text").alias("_h")
        ),
        documents,
    )
    per_raw = scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_raw")
    )
    passed = scored.filter(F.col("quality") >= F.lit(FUNNEL_QUALITY_MIN))
    per_quality = passed.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_quality")
    )
    w_dd = Window.partitionBy("_h").orderBy("doc_id")
    # the dedup-window output in turn feeds per-source counts, the corpus
    # total and the greedy fill (twice in the distributed regime): cut the
    # repeated window shuffle the same way
    unique = _materialize_scored(
        passed.withColumn("_rn", F.row_number().over(w_dd))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_h"),
        documents,
    )
    per_unique = unique.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_unique")
    )
    tot = unique.agg(
        F.sum("n_tokens").cast("long").alias("_tot"),
        F.countDistinct("source").cast("long").alias("_ns"),
    )
    drawn = (
        _greedy_fill_before(unique, probe=documents)
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "_budget",
            F.expr(f"(_tot * {MIX_BUDGET_PCT}) div (100 * _ns)").cast("long"),
        )
        .filter(F.col("_before") < F.col("_budget"))
    )
    per_budget = drawn.groupBy("source", F.col("_budget").alias("budget_tokens")).agg(
        F.count(F.lit(1)).cast("long").alias("n_selected"),
        F.sum("n_tokens").cast("long").alias("tokens_selected"),
    )
    return (
        per_raw.join(per_quality, "source", "left")
        .join(per_unique, "source", "left")
        .join(per_budget, "source", "left")
        .select(
            "source",
            "n_raw",
            F.coalesce("n_quality", F.lit(0)).cast("long").alias("n_quality"),
            F.coalesce("n_unique", F.lit(0)).cast("long").alias("n_unique"),
            F.coalesce("n_selected", F.lit(0)).cast("long").alias("n_selected"),
            F.coalesce("tokens_selected", F.lit(0)).cast("long").alias("tokens_selected"),
            F.coalesce("budget_tokens", F.lit(0)).cast("long").alias("budget_tokens"),
        )
    )
