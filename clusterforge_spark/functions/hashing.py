"""Text hashing primitives — paired Spark/SQL, cross-engine identical.

Token hash: first 15 hex chars of md5 parsed as a 60-bit non-negative
int64. md5 is available and bit-identical in both Spark and DuckDB, which
makes simhash / min-hash fingerprints oracle-checkable — unlike
xxhash64/hash(), whose implementations differ between engines (those are
still the right choice for production-scale MinHashLSH, used in the
MLlib-based dedup path).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: simhash width: 60 usable bits from the 15-hex-char md5 prefix.
SIMHASH_BITS = 60

#: token pattern: runs of letters, digits, or single other non-space chars
TOKEN_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def tokens_expr(text_col: str = "text") -> str:
    """Spark-SQL text of :func:`tokens_col` (see the F.expr note there)."""
    return rf"filter(split(lower({text_col}), '\\s+'), t -> t != '')"


def tokens_col(text_col: str = "text") -> Column:
    """Whitespace tokens of lowercased text, empties dropped.

    Built as ONE ``F.expr`` parse instead of nested Column calls: in
    classic PySpark every Column operation is a py4j round-trip, and the
    hashing family's deep trees (signatures, shingles, bit votes) cost
    hundreds of ms of pure driver-side plan construction per query when
    composed call-by-call — measured 2.4 s build for dedup_simhash. A
    single SQL parse is one round-trip and yields the identical plan.
    """
    return F.expr(tokens_expr(text_col))


def tokens_sql(text_col: str = "text") -> str:
    return (
        f"list_filter(regexp_split_to_array(lower({text_col}), '\\s+'), t -> t != '')"
    )


def token_hashes_col(text_col: str = "text") -> Column:
    """array<long> of 60-bit md5 token hashes (distinct tokens).

    Single F.expr parse — see :func:`tokens_col` for why.
    """
    return F.expr(
        f"transform(array_distinct({tokens_expr(text_col)}), "
        f"t -> cast(conv(substr(md5(t), 1, 15), 16, 10) as bigint))"
    )


def token_hashes_sql(text_col: str = "text") -> str:
    return (
        f"list_transform(list_distinct({tokens_sql(text_col)}), "
        f"t -> ('0x' || substr(md5(t), 1, 15))::BIGINT)"
    )


def simhash_col(hashes_col: str, bits: int = SIMHASH_BITS) -> Column:
    """simhash over a precomputed array<long> of token hashes.

    bit j of the result = sign of Σ_tokens (2·bit_j(h) − 1). Computed in a
    SINGLE aggregate pass: the accumulator is the ``bits``-vector of bit
    counts (zip_with add per element), and bit j is set iff
    2·count_j > n_tokens — exactly the vote-sign condition
    (Σ(2b−1) = 2·count − n > 0). One array traversal instead of ``bits``
    independent folds; md5 hash basis unchanged → still oracle-exact.
    Per-row expression — zero shuffles, scales linearly.
    """
    counts = (
        f"aggregate({hashes_col}, array_repeat(0L, {bits}), "
        f"(acc, h) -> zip_with(acc, "
        f"transform(sequence(0, {bits - 1}), j -> shiftright(h, j) & 1), "
        f"(a, b) -> a + b))"
    )
    return F.expr(
        f"aggregate(zip_with({counts}, sequence(0, {bits - 1}), "
        f"(c, j) -> IF(2 * c > size({hashes_col}), shiftleft(1L, j), 0L)), "
        f"0L, (a, x) -> a + x)"
    ).cast("long")


def simhash_sql(hashes_col: str, bits: int = SIMHASH_BITS) -> str:
    terms = []
    for j in range(bits):
        vote = (
            f"list_sum(list_transform({hashes_col}, "
            f"h -> CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END))"
        )
        terms.append(f"(CASE WHEN {vote} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def shingles_col(text_col: str = "text", n: int = 3) -> Column:
    """Distinct word n-gram shingles (space-joined) of lowercased text.

    NOTE: inlines the tokenization, which Catalyst re-evaluates once per
    ``element_at`` — fine for a single pass over short docs, quadratic
    for long ones. Hot paths should materialize ``tokens_col`` into a
    real column first (projection below an exchange, or a cached frame)
    and use :func:`shingles_from_tokens`.
    """
    return shingles_from_tokens(tokens_col(text_col), n=n)


def shingles_from_tokens(toks: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles from an ALREADY-MATERIALIZED token
    array column — each element_at indexes the stored array instead of
    re-running the tokenizer (the long-document scale path).

    String input (a real column) takes the one-parse F.expr path; Column
    input falls back to call-by-call construction (identical plan)."""
    if isinstance(toks, str):
        return F.expr(shingles_expr(toks, n))
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]),
    )
    return F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def shingles_sql(text_col: str = "text", n: int = 3) -> str:
    join = " || ' ' || ".join(f"t[i + {j}]" for j in range(n))
    return (
        f"(CASE WHEN len(t) >= {n} THEN "
        f"list_distinct([{join} for i in generate_series(1, len(t) - {n - 1})]) "
        f"ELSE [] END)"
    )


def shingles_expr(toks: str, n: int = 3) -> str:
    """Spark-SQL text of :func:`shingles_from_tokens` over a token column."""
    parts = ", ".join(
        f"element_at({toks}, cast(i + {j + 1} as int))" for j in range(n)
    )
    return (
        f"CASE WHEN size({toks}) >= {n} THEN array_distinct("
        f"transform(sequence(0, size({toks}) - {n}), "
        f"i -> concat_ws(' ', {parts}))) "
        f"ELSE cast(array() as array<string>) END"
    )


def shingle_hashes_from_tokens(toks: str, n: int = 3) -> Column:
    """array<long> of distinct 60-bit md5 shingle hashes from a token
    column — the fused shingle→hash projection the dedup family caches.
    Single F.expr parse — see :func:`tokens_col`.
    """
    return F.expr(
        f"array_distinct(transform({shingles_expr(toks, n)}, "
        f"s -> cast(conv(substr(md5(s), 1, 15), 16, 10) as bigint)))"
    )


# ---------------------------------------------------------------------------
# k-permutation MinHash (cross-engine exact)
# ---------------------------------------------------------------------------

#: Mersenne prime modulus: (a·(h mod p) + b) stays < 2^62, so the whole
#: signature computation is exact int64 arithmetic in any engine.
MINHASH_P = 2_147_483_647

#: number of permutations = bands × rows
MINHASH_BANDS = 4
MINHASH_ROWS = 3
MINHASH_K = MINHASH_BANDS * MINHASH_ROWS


def _perm_coeffs(k: int = MINHASH_K) -> list[tuple[int, int]]:
    """Deterministic permutation coefficients (odd a, any b, < p)."""
    coeffs = []
    state = 0x9E3779B97F4A7C15
    for _ in range(k):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state % (MINHASH_P - 2)) | 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % MINHASH_P
        coeffs.append((int(a), int(b)))
    return coeffs


MINHASH_COEFFS: list[tuple[int, int]] = _perm_coeffs()


def minhash_signature_col(hashes_col: str) -> "Column":
    """array<long> of K minhashes over a precomputed hash array.

    Single F.expr parse (K nested transforms would otherwise cost ~5·K
    py4j round-trips of driver-side tree building) — see
    :func:`tokens_col`.
    """
    mins = ", ".join(
        f"array_min(transform({hashes_col}, "
        f"h -> ({a}L * (h % {MINHASH_P}L) + {b}L) % {MINHASH_P}L))"
        for a, b in MINHASH_COEFFS
    )
    return F.expr(f"array({mins})")


def minhash_signature_sql(hashes_col: str) -> str:
    mins = ", ".join(
        f"list_min(list_transform({hashes_col}, "
        f"h -> ({a} * (h % {MINHASH_P}) + {b}) % {MINHASH_P}))"
        for a, b in MINHASH_COEFFS
    )
    return f"[{mins}]"


def band_keys_col(sig_col: str, bands: int = MINHASH_BANDS, rows: int = MINHASH_ROWS):
    """array<struct<band:int,key:string>> — one LSH bucket key per band.

    Single F.expr parse — see :func:`tokens_col`.
    """
    entries = []
    for bidx in range(bands):
        parts = ", ".join(
            f"cast({sig_col}[{bidx * rows + r}] as string)" for r in range(rows)
        )
        entries.append(
            f"struct({bidx} as band, concat_ws('|', {parts}) as key)"
        )
    return F.expr(f"array({', '.join(entries)})")


def band_key_sql(sig: str, bidx: int, rows: int = MINHASH_ROWS) -> str:
    parts = " || '|' || ".join(
        f"CAST({sig}[{bidx * rows + r + 1}] AS VARCHAR)" for r in range(rows)
    )
    return parts
