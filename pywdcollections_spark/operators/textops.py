"""Shared JVM-side text expression builders (no Python UDFs).

Deterministic arithmetic only — every hash here is md5-derived or a
polynomial over code points, so a SQL oracle (DuckDB) can reproduce
values bit-for-bit. xxhash64/built-in hash() are NOT used for
cross-engine-checked values (they differ between engines); xxhash64 is
reserved for partitioning/salting where only distribution matters.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MERSENNE_P = (1 << 61) - 1


def md5_hash64(col: Column) -> Column:
    """Deterministic 60-bit integer hash: first 15 hex chars of md5.
    DuckDB equivalent: ('0x' || substr(md5(x), 1, 15))::BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def words(col: Column) -> Column:
    """Whitespace tokenization (multi-space safe, empty-safe)."""
    return F.filter(F.split(F.trim(col), r"\s+"), lambda w: w != "")


def word_shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingles as an array<string>; empty when the text
    has fewer than n words (null text -> empty too). Pure built-ins:
    the n shifted SLICES of the token array are zipped element-wise,
    so tokenization runs O(n) times per ROW. The obvious
    transform(sequence(...), i -> element_at(words(col), i+k))
    formulation is O(words^2) per row: higher-order-function lambdas
    re-evaluate their unbound subtrees per ELEMENT, so every gram
    re-tokenizes the whole text — measured 5.4 s -> 0.2 s over 5k
    sf0.1 docs (~300 chars each), and quadratic blowup on long
    documents at corpus scale (r6; the fix feeds minhash, jaccard,
    decontamination, and repetition alike)."""
    ws = words(col)
    m = F.greatest(F.size(ws) - (n - 1), F.lit(0))
    parts = [F.slice(ws, k + 1, m) for k in range(n)]
    grams = parts[0]
    for p in parts[1:]:
        grams = F.zip_with(grams, p, lambda a, b: F.concat_ws(" ", a, b))
    return F.coalesce(grams, F.array().cast("array<string>"))


def minhash_signature_from_hashes(hashes: Column, k: int = 8,
                                  p: int = 1_000_000_007) -> Column:
    """k min-hash values via affine re-hashing of a BOUND array<long>
    of shingle hashes: h_j = (a_j * H + b_j) mod p. Returns array<long>
    of length k (p when the shingle set is empty). Hot-path callers
    project ``transform(sh, md5_hash64)`` into a column first and pass
    the attribute — each of the k per-row passes then does two
    multiplies per element instead of re-running md5 (the k transforms
    re-evaluate whatever expression ``hashes`` is, per row; measured
    2.9 s -> 1.4 s over 5k sf0.1 docs, r6)."""
    sig = []
    for j in range(k):
        a, b = 2 * j + 1, 7919 * (j + 1)
        hj = F.transform(hashes, lambda h: (h % p * a + b) % p)
        sig.append(F.coalesce(F.array_min(hj), F.lit(p)))
    return F.array(*sig)


def token_hashes(col: Column) -> Column:
    """md5-derived 60-bit hash per whitespace token (array<long>).
    Project this into a COLUMN before folding per-bit statistics over
    it — an unbound subtree referenced by k aggregates re-tokenizes
    and re-hashes the text k times per row."""
    return F.transform(words(col), md5_hash64)


def simhash16_from_hashes(th: Column) -> Column:
    """16-bit SimHash over a BOUND token-hash array (see token_hashes):
    bit b set iff the sum of ±1 votes from each token's hash bit b is
    positive. The 16 per-bit aggregates each iterate the array, so the
    array must be a projected attribute — passing the raw
    token_hashes(text) expression re-runs tokenize+md5 16x per row
    (measured 4.7 s -> 0.8 s over 5k sf0.1 docs, r6)."""
    fp = F.lit(0)
    for b in range(16):
        vote = F.aggregate(
            th, F.lit(0),
            lambda acc, h: acc + (h.bitwiseAND(F.lit(1 << b)) != 0).cast("int") * 2 - 1)
        fp = fp + F.when(vote > 0, F.lit(1 << b)).otherwise(F.lit(0))
    return fp


def rolling_fingerprint(col: Column, mod: int = 1_000_000_007,
                        block: int = 4096) -> Column:
    """Polynomial rolling hash over the code points of the normalized
    text (lowercased, whitespace collapsed) — a document fingerprint
    whose SQL twin is list_reduce over string_split.

    Computed BLOCK-WISE: each ``block``-char chunk folds to
    (h_i, 31^len_i mod p) and blocks combine as acc*m_i + h_i — the
    same value as one char-by-char fold, but the transient per-row
    state is one block's char array instead of a whole-document array
    (MB-size docs would otherwise hold a million-element array per row
    inside the aggregate).

    Chunking is ONE split pass (the \\G fixed-width-lookbehind idiom),
    not per-block substr of an unbound expression: the old
    transform(sequence, i -> fold(substr(norm, i*block+1, block)))
    form re-evaluated the normalization AND re-scanned the string to
    the block offset once per block — O(len^2/block) per row on large
    documents, the same HOF-re-evaluation class as the r6
    word_shingles fix. Values identical (same chunks, same fold).

    Empty chunks are dropped before folding (r7, ADVICE r6): split with
    limit -1 emits a trailing "" whenever len(norm) is a positive
    multiple of ``block``, and "" folds to (h=0, m=31), silently
    multiplying the final hash by 31 — exactly at block-multiple
    lengths, which the char-by-char oracle fold never does. Dropping
    "" is value-neutral everywhere else ((0, 1) is the fold identity,
    and "" only ever appears as that trailing artifact)."""
    norm = F.lower(F.regexp_replace(F.trim(col), r"\s+", " "))
    blocks = F.filter(F.split(norm, rf"(?<=\G.{{{int(block)}}})"),
                      lambda b: b != "")

    def fold_block(blk):
        zero = F.struct(F.lit(0).cast("long").alias("h"),
                        F.lit(1).cast("long").alias("m"))
        return F.aggregate(F.split(blk, ""), zero, lambda acc, c: F.struct(
            ((acc["h"] * 31 + F.ascii(c)) % mod).alias("h"),
            ((acc["m"] * 31) % mod).alias("m")))

    parts = F.transform(blocks, fold_block)
    return F.aggregate(parts, F.lit(0).cast("long"),
                       lambda acc, p: (acc * p["m"] + p["h"]) % mod)


def as_double_array(col: Column) -> Column:
    """array<float> -> array<double> (exact widening). Pre-cast vector
    columns ONCE per row with this before pair-wise scoring: cosine()
    over raw float arrays pays three cast-copy allocations per PAIR
    inside its folds, which dominates cross-join scoring (r6 A/B:
    ~13% on a 50k-pair cross join, bit-identical results)."""
    return F.transform(col, lambda x: x.cast("double"))


def cosine_double(a: Column, b: Column, scale: int = 4) -> Column:
    """Cosine similarity of two array<double> columns (pre-cast with
    ``as_double_array``), computed with left-to-right summation
    (matches list_dot_product / list-reduce order in the oracle),
    rounded to ``scale``. The folds run directly over the bound
    arrays — no per-pair cast copies. NB: a one-pass struct-state
    fold was A/B'd and measured ~60% SLOWER than these three simple
    passes (interpreted HOF struct allocation per element); keep the
    three-fold shape."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return F.round(dot / (na * nb), scale)


def cosine(a: Column, b: Column, scale: int = 4) -> Column:
    """Convenience form over raw array<float/double> columns — pays the
    cast copies per evaluation; hot pair-scoring paths pre-cast once
    per row and call cosine_double (similarity.py / dedup.py do)."""
    return cosine_double(as_double_array(a), as_double_array(b), scale)
