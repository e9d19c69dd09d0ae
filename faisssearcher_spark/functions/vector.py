"""Vector column utilities: normalization, casting, validation.

Reference parity:
- L2 normalize (faiss_searcher.py:96-98, gated by ``norm_vec`` and forced on
  for the "cos" measurement at :53);
- float32 cast (faiss_searcher.py:92-94);
- dimension probe / shape asserts (faiss_searcher.py:38-40,56,67-68) become
  schema validation that runs one tiny Spark job, not a full scan.

All are pure Catalyst expressions (whole-stage codegen, no Python).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from faisssearcher_spark.functions.metrics import ColumnOrName, _col, as_double


def l2_normalize(c: ColumnOrName, on_zero: Column | None = None) -> Column:
    """L2-normalize an array<float|double> column.

    Without ``on_zero`` the zero vector is divided by its zero norm, as
    the reference does (faiss_searcher.py:96-98, where numpy yields
    NaN). Here that yields NaN only with ``spark.sql.ansi.enabled=false``:
    under Spark 4's default ANSI mode the division raises
    ``DIVIDE_BY_ZERO`` when the column is computed. ``on_zero``, when
    given, is a zero vector's value instead: the vector itself passes it
    through unchanged, an ``F.raise_error`` names the row. A NULL vector
    stays NULL.
    """
    v = as_double(c)

    def divide(norm: Column) -> Column:
        # Catalyst does not CSE inside higher-order lambdas: `transform(
        # v, x -> x / norm)` would re-run the O(d) norm aggregate per
        # element (O(d^2) per call, measured ~6x on the knn path).
        # array_repeat evaluates norm ONCE and zip_with divides
        # element-wise — same IEEE semantics (x/0.0 -> Inf/NaN) as the
        # per-element division.
        return F.zip_with(v, F.array_repeat(norm, F.size(v)),
                          lambda x, nn: x / nn)

    squares = F.zip_with(v, v, lambda x, y: x * y)
    if on_zero is None:
        return divide(F.sqrt(F.aggregate(squares, F.lit(0.0),
                                         lambda acc, x: acc + x)))
    # the squared norm is bound once, as the aggregate's finish argument,
    # for both the zero test and the division
    return F.aggregate(squares, F.lit(0.0), lambda acc, x: acc + x,
                       lambda ss: F.when(ss == 0.0, on_zero)
                       .otherwise(divide(F.sqrt(ss))))


def to_float32(c: ColumnOrName) -> Column:
    """Cast to array<float> — the reference stores float32 end-to-end
    (faiss_searcher.py:92-94). Use for storage; metric math re-casts to
    float64 for stable accumulation."""
    return _col(c).cast("array<float>")


def vector_dim(df: DataFrame, col: str) -> int:
    """Probe the (constant) dimensionality of a vector column.

    The reference probes by encoding the first item (faiss_searcher.py:56);
    here we read one row. Raises if the column is not an array type.
    """
    field = df.schema[col]
    if not isinstance(field.dataType, ArrayType):
        raise TypeError(f"column {col!r} is {field.dataType}, expected array")
    row = df.select(F.size(F.col(col)).alias("d")).first()
    if row is None:
        raise ValueError(f"cannot probe dim of {col!r}: DataFrame is empty")
    return row["d"]


def validate_vectors(df: DataFrame, col: str, dim: int | None = None) -> int:
    """Validate that every row's vector has the same (expected) dimension.

    Replaces the reference's ndarray shape asserts (faiss_searcher.py:38-40,
    67-68) with one distributed aggregate: min(size) == max(size) == dim and
    no NULL vectors. Returns the validated dimension.
    """
    stats = df.select(
        F.min(F.size(F.col(col))).alias("dmin"),
        F.max(F.size(F.col(col))).alias("dmax"),
        F.sum(F.when(F.col(col).isNull(), 1).otherwise(0)).alias("nulls"),
    ).first()
    return check_vector_stats(col, stats["nulls"], stats["dmin"],
                              stats["dmax"], dim)


def check_vector_stats(col: str, nulls: int | None, dmin: int | None,
                       dmax: int | None, dim: int | None = None) -> int:
    """The checks behind :func:`validate_vectors`, on its three statistics
    (NULL count, min and max size over the non-NULL vectors; ``dmin`` is
    None when there are none). Shared with driver-side validation of a
    collected vector column, so both raise the same errors."""
    if dmin is None:
        raise ValueError(f"no vectors found in column {col!r}")
    if nulls:
        raise ValueError(f"{nulls} NULL vectors in column {col!r}")
    if dmin != dmax:
        raise ValueError(
            f"ragged vector column {col!r}: dims in [{dmin}, {dmax}]")
    if dim is not None and dmin != dim:
        raise ValueError(f"expected dim {dim}, found {dmin} in {col!r}")
    return dmin


# ---------------------------------------------------------------------------
# int8 storage codec (per-vector symmetric quantization)
# ---------------------------------------------------------------------------
#
# At 100 TB an embedding column is usually the widest thing in the table:
# 4 bytes/dim float32. Symmetric int8 (one scale per vector) cuts that
# 4x with ~0.4% max per-coordinate error relative to the vector's own
# peak magnitude — the storage codec serving layers use when the TRAINED
# per-dimension bounds of SQIndex (operators/ann.py) aren't available or
# the column must stay self-describing (each row decodes alone, no model
# table to join). Cosine/dot scoring can stay in integer space:
# dot(a, b) = int_dot(codes_a, codes_b) * scale_a * scale_b, exact for
# the STORED (quantized) values. All pure Catalyst — codegen'd, no
# Python.


def quantize_i8(c: ColumnOrName) -> Column:
    """``struct(codes array<tinyint>, scale float)`` — symmetric int8:
    ``scale = max|x| / 127``; ``code = round(x / scale)`` ∈ [−127, 127].
    The all-zero vector stores scale 0 with zero codes (dequantizes to
    itself). NULL in → NULL out."""
    v = as_double(c)
    peak = F.aggregate(v, F.lit(0.0),
                       lambda acc, x: F.greatest(acc, F.abs(x)))
    # evaluate the aggregate ONCE (the l2_normalize HOF-CSE rule):
    # array_repeat + zip_with, never `transform(v, x -> x / peak)`
    scale_arr = F.array_repeat(peak / F.lit(127.0), F.size(v))
    codes = F.zip_with(
        v, scale_arr,
        lambda x, s: F.when(s == 0.0, F.lit(0))
        .otherwise(F.round(x / s, 0)).cast("tinyint"))
    return F.struct(codes.alias("codes"),
                    (peak / F.lit(127.0)).cast("float").alias("scale"))


def dequantize_i8(c: ColumnOrName) -> Column:
    """array<float> from a :func:`quantize_i8` struct — each coordinate
    within scale/2 = max|x|/254 of the original."""
    q = _col(c)
    scale_arr = F.array_repeat(q["scale"].cast("double"),
                               F.size(q["codes"]))
    return F.zip_with(q["codes"], scale_arr,
                      lambda code, s: (code.cast("double") * s)
                      .cast("float"))


def i8_dot(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Dot product of two :func:`quantize_i8` structs, EXACT for the
    stored values: the integer code dot (lossless in a long) times both
    scales. One fold over the code arrays — no dequantized float arrays
    materialize."""
    qa, qb = _col(a), _col(b)
    int_dot = F.aggregate(
        F.zip_with(qa["codes"], qb["codes"],
                   lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    return (int_dot.cast("double") * qa["scale"].cast("double")
            * qb["scale"].cast("double"))


# ---------------------------------------------------------------------------
# fp16 storage codec (IEEE 754 binary16 bit patterns, pure Catalyst)
# ---------------------------------------------------------------------------
#
# The 2x-compression sibling of quantize_i8 for columns where RELATIVE
# precision must be uniform across magnitudes (i8's error is relative to
# the vector's PEAK, so small coordinates of a heavy-tailed vector lose
# everything; fp16 keeps ~3 decimal digits per coordinate regardless).
# Spark has no half type, so codes are the IEEE 754 binary16 bit
# patterns stored as array<smallint> (2 bytes/dim in parquet, dictionary
# + byte-split encodings apply). Faithful IEEE semantics: round to
# nearest, ties to EVEN; gradual underflow (subnormals down to 2^-24);
# overflow SATURATES to +/-65504 instead of inf (a storage codec must
# round-trip finite data to finite data). -0.0 quantizes to +0 (the
# sign test is `x < 0`); NULL vector -> NULL.
#
# The whole encode is scalar Catalyst math (floor/log2/pow/case), so it
# is replayable verbatim in any ANSI engine — the DuckDB oracle twin
# regenerates every bit pattern (registry.py vector_norms gate). Two
# exactness facts the implementation leans on, both engine-portable:
#   * multiplying a double by a power of two is EXACT (exponent shift),
#     so y = |x| * 2^(10-e) carries no rounding error into the
#     round-half-even decision;
#   * floor(log2(a)) can be off by one at powers of two (log2 is the
#     libm estimate), so the exponent is CORRECTED against exact
#     pow(2, e) bounds before use.
# Higher-order lambdas don't CSE (see l2_normalize), so the encode is
# staged through two intermediate transform() passes whose struct
# FIELDS bind each expensive subexpression exactly once.


def _f16_stage1(x: Column) -> Column:
    """Per-element (sign, |x|, corrected clamped exponent) struct."""
    s = F.when(x < 0, F.lit(1)).otherwise(F.lit(0))
    a = F.abs(x)
    # log2(0) = -Inf would blow up the ANSI cast; zeros take the
    # m == 0 subnormal path regardless of e, so any finite e works.
    safe = F.when(a == 0.0, F.lit(1.0)).otherwise(a)
    e0 = F.floor(F.log2(safe)).cast("int")
    p0 = F.pow(F.lit(2.0), e0.cast("double"))
    e = (F.when(safe >= 2.0 * p0, e0 + 1)
         .when(safe < p0, e0 - 1)
         .otherwise(e0))
    # clamp to the subnormal regime: below 2^-14 the quantization step
    # is fixed at 2^-24 (no implicit leading bit), which is exactly the
    # normal formula evaluated at e = -14 with m allowed below 1024.
    return F.struct(s.alias("s"), a.alias("a"),
                    F.greatest(e, F.lit(-14)).alias("e"))


def _f16_stage2(t: Column) -> Column:
    """Round-half-even mantissa in units of 2^(e-10): m = rhe(a * 2^(10-e)).
    Normals land in [1024, 2048], subnormals in [0, 1024]."""
    y = t["a"] * F.pow(F.lit(2.0), (F.lit(10) - t["e"]).cast("double"))
    fl = F.floor(y).cast("long")
    r = y - fl.cast("double")
    m = (F.when(r > 0.5, fl + 1)
         .when(r < 0.5, fl)
         .otherwise(fl + fl % 2))
    return F.struct(t["s"].alias("s"), t["e"].alias("e"), m.alias("m"))


def _f16_stage3(t: Column) -> Column:
    """Assemble the bit pattern: mantissa overflow bumps the exponent,
    exponent overflow saturates to the max finite half (0x7BFF)."""
    ee = F.when(t["m"] == 2048, t["e"] + 1).otherwise(t["e"])
    mm = F.when(t["m"] == 2048, F.lit(1024).cast("long")).otherwise(t["m"])
    u = F.when(mm < 1024, t["s"] * 32768 + mm).otherwise(
        t["s"] * 32768 + (ee.cast("long") + 15) * 1024 + (mm - 1024))
    u = F.when(ee > 15, t["s"] * 32768 + 0x7BFF).otherwise(u)
    return F.when(u >= 32768, u - 65536).otherwise(u).cast("smallint")


def _f16_stage1_sql(x: str) -> str:
    """SQL text of :func:`_f16_stage1` over element expression ``x``."""
    s = f"CASE WHEN ({x} < 0) THEN 1 ELSE 0 END"
    a = f"abs({x})"
    safe = f"CASE WHEN ({a} = 0.0D) THEN 1.0D ELSE {a} END"
    e0 = f"CAST(FLOOR(LOG2({safe})) AS INT)"
    p0 = f"power(2.0D, CAST({e0} AS DOUBLE))"
    e = (f"CASE WHEN ({safe} >= (2.0D * {p0})) THEN ({e0} + 1) "
         f"WHEN ({safe} < {p0}) THEN ({e0} - 1) ELSE {e0} END")
    return (f"struct({s} AS s, {a} AS a, "
            f"greatest({e}, -14) AS e)")


def _f16_stage2_sql(t: str) -> str:
    """SQL text of :func:`_f16_stage2` over struct expression ``t``."""
    y = f"({t}.a * power(2.0D, CAST((10 - {t}.e) AS DOUBLE)))"
    fl = f"CAST(FLOOR({y}) AS BIGINT)"
    r = f"({y} - CAST({fl} AS DOUBLE))"
    m = (f"CASE WHEN ({r} > 0.5D) THEN ({fl} + 1) "
         f"WHEN ({r} < 0.5D) THEN {fl} "
         f"ELSE ({fl} + ({fl} % 2)) END")
    return f"struct({t}.s AS s, {t}.e AS e, {m} AS m)"


def _f16_stage3_sql(t: str) -> str:
    """SQL text of :func:`_f16_stage3` over struct expression ``t``."""
    ee = f"CASE WHEN ({t}.m = 2048) THEN ({t}.e + 1) ELSE {t}.e END"
    mm = (f"CASE WHEN ({t}.m = 2048) THEN CAST(1024 AS BIGINT) "
          f"ELSE {t}.m END")
    u = (f"CASE WHEN ({mm} < 1024) THEN (({t}.s * 32768) + {mm}) "
         f"ELSE ((({t}.s * 32768) + ((CAST({ee} AS BIGINT) + 15) * 1024))"
         f" + ({mm} - 1024)) END")
    u2 = (f"CASE WHEN ({ee} > 15) THEN (({t}.s * 32768) + {0x7BFF}) "
          f"ELSE {u} END")
    return (f"CAST(CASE WHEN ({u2} >= 32768) THEN ({u2} - 65536) "
            f"ELSE {u2} END AS SMALLINT)")


def quantize_f16_sql(c: str) -> str:
    """SQL text of :func:`quantize_f16` over column name ``c`` — one
    parse instead of ~1,100 py4j round-trips (functions/sqltext.py;
    plan parity pinned in tests/test_sqltext_parity.py)."""
    v = f"CAST({c} AS ARRAY<DOUBLE>)"
    inf = "CAST('Infinity' AS DOUBLE)"
    sane = (f"transform({v}, x -> CASE WHEN (isnan(x) OR "
            f"(abs(x) = {inf})) THEN 0.0D ELSE x END)")
    codes = (f"transform(transform(transform({sane}, "
             f"x -> {_f16_stage1_sql('x')}), "
             f"t -> {_f16_stage2_sql('t')}), "
             f"t -> {_f16_stage3_sql('t')})")
    return (f"zip_with({v}, {codes}, (x, code) -> "
            f"CAST(CASE WHEN isnan(x) THEN {0x7E00} "
            f"WHEN (x = {inf}) THEN {0x7BFF} "
            f"WHEN (x = -{inf}) THEN {0xFBFF - 0x10000} "
            f"ELSE code END AS SMALLINT))")


def quantize_f16(c: ColumnOrName) -> Column:
    """``array<smallint>`` of IEEE 754 binary16 bit patterns — round to
    nearest even, gradual underflow, saturating overflow. Codes match
    ``numpy.float16(x).view(numpy.int16)`` bit-for-bit on non-overflow
    inputs (pinned in tests/test_vector_f16.py).

    Non-finite inputs are clamped, not left to garbage-encode (the
    floor(log2(·)) exponent math overflows on ±Inf in non-ANSI mode):
    NaN → the canonical quiet-NaN pattern 0x7E00 (numpy's), ±Inf →
    ±65504 — the same saturate-to-max-finite rule as finite overflow,
    a deliberate deviation from numpy's inf-preserving cast so decode
    always returns finite values for non-NaN input."""
    from faisssearcher_spark.functions.sqltext import is_simple_name

    if is_simple_name(c):
        # one SQL parse instead of ~1,100 py4j round-trips; plan
        # parity pinned in tests/test_sqltext_parity.py
        return F.expr(quantize_f16_sql(c))
    v = as_double(c)
    inf = F.lit(float("inf"))
    # non-finite elements take a safe 0.0 through the stages (their
    # codes are patched below); everything else is untouched
    sane = F.transform(v, lambda x: F.when(
        F.isnan(x) | (F.abs(x) == inf), F.lit(0.0)).otherwise(x))
    codes = F.transform(
        F.transform(F.transform(sane, _f16_stage1), _f16_stage2),
        _f16_stage3)
    return F.zip_with(
        v, codes,
        lambda x, code: F.when(F.isnan(x), F.lit(0x7E00))
        .when(x == inf, F.lit(0x7BFF))
        .when(x == -inf, F.lit(0xFBFF - 0x10000))
        .otherwise(code).cast("smallint"))


def dequantize_f16_sql(c: str) -> str:
    """SQL text of :func:`dequantize_f16` over column name ``c`` (see
    :func:`quantize_f16_sql`; parity pinned in
    tests/test_sqltext_parity.py)."""
    from faisssearcher_spark.functions.sqltext import sql_double

    ci = "CAST(code AS INT)"
    u = f"CASE WHEN ({ci} < 0) THEN ({ci} + 65536) ELSE {ci} END"
    sgn = f"CASE WHEN ({u} >= 32768) THEN -1.0D ELSE 1.0D END"
    ub = f"({u} % 32768)"
    ef = f"shiftright({ub}, 10)"
    m = f"({ub} % 1024)"
    mag = (f"CASE WHEN ({ef} = 0) THEN (CAST({m} AS DOUBLE) * "
           f"{sql_double(2.0 ** -24)}) "
           f"WHEN ({ef} = 31) THEN CASE WHEN ({m} = 0) "
           f"THEN CAST('Infinity' AS DOUBLE) "
           f"ELSE CAST('NaN' AS DOUBLE) END "
           f"ELSE (CAST(({m} + 1024) AS DOUBLE) * "
           f"power(2.0D, CAST(({ef} - 25) AS DOUBLE))) END")
    return (f"transform({c}, code -> "
            f"CAST(({sgn} * {mag}) AS FLOAT))")


def dequantize_f16(c: ColumnOrName) -> Column:
    """array<float> from :func:`quantize_f16` codes — every decoded
    value is exactly representable in float32, so the decode is
    bit-deterministic across engines. Inf/NaN patterns (never produced
    by the saturating encoder) decode to their IEEE values."""
    from faisssearcher_spark.functions.sqltext import is_simple_name

    if is_simple_name(c):
        # one SQL parse instead of ~330 py4j round-trips; plan parity
        # pinned in tests/test_sqltext_parity.py
        return F.expr(dequantize_f16_sql(c))
    codes = _col(c)

    def _dec(code: Column) -> Column:
        ci = code.cast("int")
        u = F.when(ci < 0, ci + 65536).otherwise(ci)
        sgn = F.when(u >= 32768, F.lit(-1.0)).otherwise(F.lit(1.0))
        ub = u % 32768
        ef = F.shiftright(ub, 10)
        m = ub % 1024
        mag = (F.when(ef == 0, m.cast("double") * F.lit(2.0 ** -24))
               .when(ef == 31,
                     F.when(m == 0, F.lit(float("inf")))
                     .otherwise(F.lit(float("nan"))))
               .otherwise((m + 1024).cast("double")
                          * F.pow(F.lit(2.0), (ef - 25).cast("double"))))
        return (sgn * mag).cast("float")

    return F.transform(codes, _dec)


# ---------------------------------------------------------------------------
# 1-bit (sign) storage codec + Hamming scoring
# ---------------------------------------------------------------------------
#
# The 32x-compression endpoint of the codec family (i8 is 4x, f16 is
# 2x): keep only each coordinate's SIGN, packed 32 bits per long word
# (word values live in [0, 2^32), so none of the signed-bit64 care the
# image dHash path needs applies here). The classic binary-quantization
# serving trade: Hamming distance between sign patterns estimates angle
# — for vectors x, y the sign pattern is the SimHash of the standard
# basis, and E[cos(pi * h / d)] ~ cos(x, y) on isotropic data — so a
# 100 TB store scans the 32x-smaller code column, shortlists by Hamming
# (XOR + popcount, pure codegen integer ops), and exact-reranks only
# the shortlist against the full-precision vectors
# (operators/ann.py:b1_rerank_topk). All pure Catalyst.


def mrl_truncate(c: ColumnOrName, dims: int,
                 renormalize: bool = True) -> Column:
    """Matryoshka prefix truncation (Kusupati et al. 2022, MRL): keep
    the first ``dims`` components and L2-renormalize. MRL-trained
    embeddings preserve ranking under prefix truncation, so search can
    run over a ``dims/d``-sized column and exact-rerank survivors at
    full width (``ann.mrl_rerank_topk``); the truncation itself is also
    the storage story — a parquet column ``d/dims``× narrower.

    ``renormalize=False`` returns the raw prefix (what you store;
    renormalization belongs to scoring time)."""
    if dims < 1:
        raise ValueError(f"dims must be >= 1 (got {dims})")
    sliced = F.slice(as_double(c), 1, dims)
    return l2_normalize(sliced) if renormalize else sliced


def quantize_b1(c: ColumnOrName) -> Column:
    """``array<long>`` of 32-bit sign words: bit ``j`` of word ``w`` is
    set iff coordinate ``32w + j`` is >= 0 (so +0.0 and -0.0 both read
    as positive — a storage codec must not distinguish them). A trailing
    partial word holds the tail dims in its low bits; the empty vector
    encodes to an empty array; NULL in -> NULL out."""
    v = as_double(c)
    n = F.size(v)
    nwords = F.floor((n + F.lit(31)) / F.lit(32)).cast("int")
    # aggregate carries (acc, weight): weight doubles per element, so
    # bit j of the word is element j of the 32-slice — no index var
    # needed inside the lambda (HOFs provide none)
    words = F.transform(
        F.sequence(F.lit(0), nwords - 1),
        lambda w: F.aggregate(
            F.slice(v, w * 32 + 1, 32),
            F.struct(F.lit(0).cast("long").alias("acc"),
                     F.lit(1).cast("long").alias("wt")),
            lambda s, x: F.struct(
                (s["acc"] + F.when(x >= 0, s["wt"])
                 .otherwise(F.lit(0).cast("long"))).alias("acc"),
                (s["wt"] * 2).alias("wt")),
            lambda s: s["acc"]))
    return F.when(n == 0, F.array().cast("array<long>")).otherwise(words)


def b1_hamming(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Hamming distance between two :func:`quantize_b1` codes: one fold
    of XOR + popcount over the word arrays (codegen integer ops, no
    Python, no floats). Codes must come from same-dim vectors — unequal
    word counts NULL out (zip_with pads with NULL)."""
    return F.aggregate(
        F.zip_with(_col(a), _col(b),
                   lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long")),
        F.lit(0).cast("long"), lambda acc, x: acc + x)


def b1_cosine_estimate(a: ColumnOrName, b: ColumnOrName,
                       dim: Column | int) -> Column:
    """Angle estimate from sign agreement: ``cos(pi * h / d)`` where h
    is the code Hamming distance — the sign-LSH collision identity with
    every hyperplane axis-aligned. Unbiased direction estimate on
    isotropic data; a prefilter score, not a metric (use
    :func:`b1_hamming` to rank, this to threshold)."""
    import math
    h = b1_hamming(a, b).cast("double")
    d = F.lit(float(dim)) if isinstance(dim, int) else _col(dim).cast("double")
    return F.cos(F.lit(math.pi) * h / d)


def f16_int24(code: Column) -> Column:
    """Decoded value times 2^24 as an EXACT long (the smallest half is
    2^-24, so every finite half is an integer multiple of it). This is
    the integer-exact projection the oracle gate sums — no float
    rounding anywhere, so cross-engine comparison needs no tolerance."""
    ci = code.cast("int")
    u = F.when(ci < 0, ci + 65536).otherwise(ci)
    sgn = F.when(u >= 32768, F.lit(-1)).otherwise(F.lit(1)).cast("long")
    ub = u % 32768
    ef = F.shiftright(ub, 10)
    m = (ub % 1024).cast("long")
    mag = F.when(ef == 0, m).otherwise(
        ((m + 1024).cast("double")
         * F.pow(F.lit(2.0), (ef - 1).cast("double"))).cast("long"))
    return sgn * mag
