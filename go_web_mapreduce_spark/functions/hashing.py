"""Portable hashing expressions — md5-derived, identical across engines.

Design constraint: every hash used by an oracle-checked query must produce
byte-identical results in Spark SQL and ANSI/DuckDB SQL, so engine-native
hashes (Spark murmur3 ``hash()``, DuckDB ``hash()``) are out. ``md5`` hex
is the one hash both engines share; hex strings compare lexicographically
the same everywhere, which is all MinHash needs (min over a set).

MinHash background: Broder 1997, "On the resemblance and containment of
documents"; banding/LSH per Leskovec-Rajaraman-Ullman, *Mining of Massive
Datasets* ch. 3 (public).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


def salted_md5(value: Column, salt: int) -> Column:
    """``md5(salt || ':' || value)`` — one member of a family of independent
    hash functions indexed by ``salt``."""
    return F.md5(F.concat(F.lit(f"{salt}:"), value))


def md5_bucket(value: Column, num_buckets: int, salt: int = 0) -> Column:
    """Deterministic engine-portable bucket id in ``[0, num_buckets)``.

    Uses the first 8 hex chars of the md5 parsed as an int. Equivalent
    DuckDB SQL uses the same substring via a hex→int conversion.
    """
    return (
        F.conv(F.substring(salted_md5(value, salt), 1, 8), 16, 10).cast("bigint")
        % num_buckets
    )


# universal-hash family for MinHash: component_i(h) = (A_i*h + B_i) mod P.
# P = 2^31-1 (Mersenne prime); A_i,B_i are md5-derived 28-bit constants so
# A*h + B < 2^60 — no bigint overflow in either engine. Deterministic and
# reproducible everywhere (no RNG state), mirrored verbatim in oracle SQL.
MINHASH_MOD = 2147483647


def hash_family(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (A_i, B_i) multiply-add constants; A_i forced odd."""
    import hashlib

    out = []
    for i in range(num_hashes):
        a = int(hashlib.md5(f"a:{i}".encode()).hexdigest()[:7], 16) | 1
        b = int(hashlib.md5(f"b:{i}".encode()).hexdigest()[:7], 16)
        out.append((a, b))
    return out


def shingle_hashes(shingles: Column) -> Column:
    """One 32-bit md5-derived integer per shingle (``array<bigint>``) — the
    single expensive hash; every MinHash component derives from it."""
    return F.transform(
        shingles, lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint")
    )


def minhash_from_hashes(hs: Column, num_hashes: int) -> Column:
    """MinHash signature (``array<bigint>``) from pre-hashed shingles:
    component ``i`` = min over shingles of ``(A_i*h + B_i) mod P``. Integer
    mixing only — md5 ran once in :func:`shingle_hashes`."""

    def component(a: int, b: int) -> Column:
        def mix(h: Column) -> Column:
            return (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_MOD)

        return F.array_min(F.transform(hs, mix))

    return F.array(*[component(a, b) for a, b in hash_family(num_hashes)])


def minhash_sig_arrow(shingles: Column, num_hashes: int) -> Column:
    """Arrow-vectorized MinHash signature from an ``array<string>`` shingle
    set: one md5 per shingle + the (A_i*h + B_i) mod P mixes, all inside a
    single pandas_udf.

    Bit-identical to ``minhash_from_hashes(shingle_hashes(...))`` (asserted
    in tests): ``h = int(md5(s)[:8 hex], 16)`` matches
    ``conv(substring(md5(s),1,8),16,10)``, the mix constants come from the
    same :func:`hash_family`, and A*h+B < 2^60 is exact in int64 for all
    three engines. The Column formulation pays interpreted HOF dispatch per
    shingle (md5) and per shingle×component (mix); this kernel runs the
    mixes as one numpy (shingles × components) matrix per document.
    """
    import hashlib

    import numpy as np

    fam = hash_family(num_hashes)
    a_vec = np.array([a for a, _ in fam], dtype=np.int64)
    b_vec = np.array([b for _, b in fam], dtype=np.int64)

    @F.pandas_udf("array<bigint>")
    def sig(batch: pd.Series) -> pd.Series:
        md5 = hashlib.md5
        out = []
        for sh in batch:
            if sh is None or len(sh) == 0:
                # NULL shingle array degrades to NULL like the Column path
                out.append(None)
                continue
            hs = np.fromiter(
                (int(md5(s.encode("utf-8")).hexdigest()[:8], 16) for s in sh),
                dtype=np.int64,
                count=len(sh),
            )
            mixed = (hs[:, None] * a_vec[None, :] + b_vec[None, :]) % MINHASH_MOD
            out.append(mixed.min(axis=0).tolist())
        return pd.Series(out)

    return sig(shingles)


def band_keys(signature: Column, bands: int, rows_per_band: int) -> Column:
    """LSH band keys: hash each ``rows_per_band``-slice of the signature.

    Docs sharing any band key become candidate pairs. Returns
    ``array<string>`` of length ``bands`` with the band index prefixed so
    keys from different bands never collide.
    """
    def as_strings(sl: Column) -> Column:
        # array_join needs array<string>; integer signatures cast to decimal
        # strings exactly like DuckDB's array_to_string
        return F.transform(sl, lambda x: x.cast("string"))

    return F.array(
        *[
            F.md5(
                F.concat(
                    F.lit(f"band{b}:"),
                    F.array_join(
                        as_strings(
                            F.slice(signature, b * rows_per_band + 1, rows_per_band)
                        ),
                        "|",
                    ),
                )
            )
            for b in range(bands)
        ]
    )


def token_hashes(toks: Column, bits: int = 60) -> Column:
    """``bits``-wide md5-derived hash per token (``array<bigint>``), the
    SimHash input. Kept as a separate projection so md5 runs once per
    token. ``bits`` must be a multiple of 4 (hex truncation) and <= 60
    (signed-int64 headroom in both Spark and the DuckDB oracle)."""
    if not 4 <= bits <= 60 or bits % 4:
        raise ValueError("bits must be a multiple of 4 in [4, 60]")
    return F.transform(
        toks,
        lambda t: F.conv(F.substring(F.md5(t), 1, bits // 4), 16, 10).cast(
            "bigint"
        ),
    )


def simhash_from_hashes(hashed: Column, n_tokens: Column, bits: int = 60) -> Column:
    """SimHash fingerprint (Charikar 2002, public) from pre-hashed tokens.

    Single fold over the hash array accumulating all ``bits`` per-bit
    counters at once (``zip_with`` add of the token's bit vector), then one
    pass to assemble the fingerprint: bit ``j`` is 1 iff at least half the
    tokens set bit ``j``. The earlier per-bit-fold formulation re-computed
    the md5 transform ``bits`` times; this one hashes each token once.
    """
    if not 1 <= bits <= 60:
        raise ValueError("bits must be in [1, 60]")
    idx = F.sequence(F.lit(0), F.lit(bits - 1))
    counts = F.aggregate(
        hashed,
        F.array_repeat(F.lit(0).cast("bigint"), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                idx, lambda j: F.call_function("shiftright", h, j).bitwiseAND(F.lit(1))
            ),
            lambda c, b: c + b,
        ),
    )
    return F.aggregate(
        F.zip_with(
            counts,
            idx,
            lambda c, j: F.when(
                c * 2 >= n_tokens,
                F.call_function("shiftleft", F.lit(1).cast("bigint"), j),
            ).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def simhash(toks: Column, bits: int = 60) -> Column:
    """SimHash of a token array as a long; see :func:`simhash_from_hashes`.
    Prefer materializing :func:`token_hashes` in its own projection first
    when the token expression is itself expensive."""
    return simhash_from_hashes(token_hashes(toks, bits), F.size(toks), bits)


def simhash_from_tokens_arrow(toks: Column, bits: int = 60) -> Column:
    """Arrow-vectorized SimHash straight from the token array: the per-token
    ``bits``-wide md5 hash AND the popcount/majority fold run in one
    pandas_udf.

    Output-identical to ``simhash_from_hashes(token_hashes(toks), size(toks))``
    (asserted in tests). Splitting hash and fold into two projections still
    left the md5-per-token ``transform`` interpreted in Catalyst — at sf0.1
    that hash pass dominated the fingerprint cost; fused here it is one
    hashlib call per token inside the Arrow batch with no intermediate
    array<bigint> column materialized.
    """
    if not 4 <= bits <= 60 or bits % 4:
        raise ValueError("bits must be a multiple of 4 in [4, 60]")
    import hashlib

    import numpy as np

    nhex = bits // 4

    @F.pandas_udf("bigint")
    def fold(batch: pd.Series) -> pd.Series:
        md5 = hashlib.md5
        shifts = np.arange(bits, dtype=np.int64)
        out: list[int | None] = []
        for tk in batch:
            if tk is None:
                # NULL token array → NULL fingerprint, like the Column path
                out.append(None)
                continue
            if len(tk) == 0:
                out.append(0)
                continue
            a = np.fromiter(
                (int(md5(t.encode("utf-8")).hexdigest()[:nhex], 16) for t in tk),
                dtype=np.int64,
                count=len(tk),
            )
            counts = ((a[:, None] >> shifts) & 1).sum(axis=0)
            out.append(int(((counts * 2 >= a.size).astype(np.int64) << shifts).sum()))
        return pd.Series(out, dtype="object")

    return fold(toks)


def simhash_wide_from_tokens_arrow(toks: Column) -> Column:
    """120-bit SimHash as a struct of two 60-bit halves ``(lo, hi)`` — the
    WIDE fingerprint whose 30-bit bands keep banded candidate generation's
    random-collision term n²·B/2^w negligible at corpus sizes where 15-bit
    bands (60-bit fingerprint) go quadratic (measured at sf10 — SCALE.md).

    Same Arrow-fused fold as :func:`simhash_from_tokens_arrow`; the two
    halves take md5 hex chars 1-15 and 16-30 of the SAME per-token digest,
    so the oracle replays both with substr() and the cost over the 60-bit
    kernel is one extra numpy fold, not a second hash pass.
    """
    import hashlib

    import numpy as np

    @F.pandas_udf("struct<lo: bigint, hi: bigint>")
    def fold(batch: pd.Series) -> pd.DataFrame:
        md5 = hashlib.md5
        shifts = np.arange(60, dtype=np.int64)
        los: list[int | None] = []
        his: list[int | None] = []
        for tk in batch:
            if tk is None:
                # NULL token array → null fields, like the 60-bit path
                los.append(None)
                his.append(None)
                continue
            if len(tk) == 0:
                los.append(0)
                his.append(0)
                continue
            hexes = [md5(t.encode("utf-8")).hexdigest() for t in tk]
            halves = []
            for sl in (slice(0, 15), slice(15, 30)):
                a = np.fromiter(
                    (int(h[sl], 16) for h in hexes),
                    dtype=np.int64,
                    count=len(hexes),
                )
                counts = ((a[:, None] >> shifts) & 1).sum(axis=0)
                halves.append(
                    int(((counts * 2 >= a.size).astype(np.int64) << shifts).sum())
                )
            los.append(halves[0])
            his.append(halves[1])
        return pd.DataFrame({"lo": los, "hi": his}, dtype="object")

    return fold(toks)


def hamming_distance(a: Column, b: Column) -> Column:
    """Hamming distance between two long fingerprints: popcount of the XOR."""
    return F.bit_count(a.bitwiseXOR(b))
