"""Vector distance expressions over ``array<float>`` embedding columns.

Built-in higher-order functions (zip_with + aggregate) keep the math
JVM-side — no Python per row. Elements are cast to double before
accumulation so results are reproducible across engines (DuckDB's
list_dot_product/list_cosine_similarity also accumulate in double,
left-to-right).

At 100 TB: these are pure projections — embarrassingly parallel, no
shuffle. The expensive part of similarity search is the join strategy, not
the distance math; see analytics.similarity.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right fold — matches a serial engine's '+'
    chain bit-for-bit.

    NOTE (measured, do not "optimize"): unrolling this into a flat
    128-term element_at sum for a fixed 64-dim ran 4x SLOWER at sf0.1
    (SCALE.md §5p — expression-size/codegen blowout), and the in-row
    collect_list'd variants regressed 20-200% (§5l). The HOF shape is
    the fast one; parallelism concerns belong to the CALLER's
    partitioning (partitioning.widen_small_scan), not this
    expression."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def dot_i64(a: Column, b: Column) -> Column:
    """Exact integer inner product of two ``array<bigint>`` vectors
    (int8 codes, signed token counts): a left-to-right BIGINT fold, so
    every engine gets the same value with no float rounding."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def int8_codes(vec: Column) -> Column:
    """Milvus INT8_VECTOR codes of a float vector: each component
    scaled by 64, rounded half up and clamped to [-128, 127], as
    ``array<bigint>`` for ``dot_i64``."""
    return F.transform(
        vec,
        lambda x: F.greatest(
            F.lit(-128),
            F.least(
                F.lit(127),
                F.floor(x.cast("double") * 64 + F.lit(0.5)).cast("bigint"),
            ),
        ),
    )


def maxsim_i64(qsubs: Column, subs: Column) -> Column:
    """Exact integer MaxSim (ColBERT late interaction) of two arrays of
    int8 sub-vectors: for each query sub-vector the best ``dot_i64``
    over the stored sub-vectors, summed as BIGINT."""
    return F.aggregate(
        F.transform(
            qsubs,
            lambda qi: F.array_max(F.transform(subs, lambda cj: dot_i64(qi, cj))),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def l2_squared(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2(a: Column, b: Column) -> Column:
    return F.sqrt(l2_squared(a, b))


def sign_bits_i64(a: Column, n_bits: int = 63) -> Column:
    """Pack the sign bits of the first ``n_bits`` dimensions into a BIGINT
    (BinaryVector surrogate, SURVEY §1.3). 63 bits keeps the value positive
    in a signed 64-bit integer on every engine.

    Engine-portable: shift/add arithmetic only.
    """
    acc = F.lit(0).cast("bigint")
    for i in range(n_bits):
        bit = F.when(F.element_at(a, i + 1) >= 0, F.lit(1)).otherwise(F.lit(0))
        acc = acc + (bit.cast("bigint") * F.lit(2 ** i).cast("bigint"))
    return acc


def hamming_i64(a: Column, b: Column) -> Column:
    """Hamming distance between two packed-bit BIGINTs: bit_count(a XOR b).
    The BinaryVector distance metric — one CPU instruction per pair at
    scale, the cheapest possible pre-filter for vector search."""
    return F.bit_count(a.bitwiseXOR(b))


def sign_words_i64(a: Column, n_dims: int, word_bits: int = 32) -> Column:
    """Pack sign bits of ``n_dims`` dimensions into an ``array<bigint>`` of
    ceil(n_dims/word_bits) words — the general BinaryVector encoding for
    dimensions beyond one machine word (Milvus BinaryVector is dim/8 bytes,
    any dim; the reference replicates such columns opaquely,
    core/writer/milvus_handler.go insert path).

    32-bit words keep every word positive in a signed 64-bit integer on
    every engine, and shift/add arithmetic is portable (no engine-specific
    bit intrinsics in the build path).
    """
    words = []
    for w in range(0, n_dims, word_bits):
        acc = F.lit(0).cast("bigint")
        for i in range(w, min(w + word_bits, n_dims)):
            bit = F.when(F.element_at(a, i + 1) >= 0, F.lit(1)).otherwise(F.lit(0))
            acc = acc + (bit.cast("bigint") * F.lit(2 ** (i - w)).cast("bigint"))
        words.append(acc)
    return F.array(*words)


def hamming_words(a: Column, b: Column) -> Column:
    """Hamming distance between two packed ``array<bigint>`` BinaryVectors:
    Σ bit_count(a[i] XOR b[i]). zip_with + aggregate keeps it JVM-side —
    one popcount per word per pair, linear in dim/64."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0),
        lambda acc, v: acc + v,
    )


def jaccard_words(a: Column, b: Column) -> Column:
    """Milvus JACCARD distance over packed BinaryVectors:
    1 - |a AND b| / |a OR b| (popcounts summed across words; 0 when both
    vectors are all-zero, matching the empty-set convention).

    Exact-integer popcounts divided once at the end — the division of two
    small exact integers is bit-identical IEEE across engines.
    """
    and_cnt = F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseAND(y))),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    or_cnt = F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseOR(y))),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return F.when(or_cnt == 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - and_cnt.cast("double") / or_cnt.cast("double")
    )


def fp16_encode(vec_col: Column) -> Column:
    """array<float> → binary of IEEE float16 (Milvus Float16Vector storage,
    SURVEY §1.3). Arrow-batched pandas UDF over numpy's float16 cast.

    Precision contract: round-to-nearest-even to 10 mantissa bits;
    |x| > 65504 saturates to ±inf. Decode(encode(x)) == float32(float16(x)),
    max relative error 2^-11 in the normal range.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def enc(s):
        import numpy as np
        import pandas as pd

        return pd.Series(
            [
                None if v is None else np.asarray(v, dtype=np.float16).tobytes()
                for v in s
            ]
        )

    return enc(vec_col)


def fp16_decode(bin_col: Column) -> Column:
    """binary (packed float16) → array<float>; inverse of fp16_encode."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<float>")
    def dec(s):
        import numpy as np
        import pandas as pd

        return pd.Series(
            [
                None
                if b is None
                # ndarray, not .tolist(): the Arrow serializer null-masks
                # leaf NaN in plain Python lists but not in numpy arrays
                else np.frombuffer(b, dtype=np.float16).astype(np.float32)
                for b in s
            ]
        )

    return dec(bin_col)


def bf16_encode(vec_col: Column) -> Column:
    """array<float> → binary of bfloat16 (float32 high bytes, 8 mantissa
    bits, same exponent range). numpy has no native bfloat16: encode =
    round-to-nearest-EVEN on the dropped 16 bits — ``u32 + 0x7FFF +
    lsb-of-kept-half`` — the IEEE tie-break hardware bf16 units use.
    NaN/Inf (exponent 0xFF) bypass the rounding add: a blind ``+0x8000``
    would carry a NaN payload over into the exponent and wrap it to ±0."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def enc(s):
        import numpy as np
        import pandas as pd

        def one(v):
            if v is None:
                return None
            u32 = np.asarray(v, dtype=np.float32).view(np.uint32)
            rounded = u32 + 0x7FFF + ((u32 >> 16) & 1)
            special = (u32 & 0x7F800000) == 0x7F800000  # NaN / Inf
            u16 = (np.where(special, u32, rounded) >> 16).astype(np.uint16)
            # a NaN whose payload lives only in the dropped half must stay
            # a NaN after truncation — force the quiet bit
            nan_lost = special & ((u32 & 0x007FFFFF) != 0) & ((u16 & 0x7F) == 0)
            u16 = np.where(nan_lost, u16 | 0x40, u16).astype(np.uint16)
            return u16.tobytes()

        return pd.Series([one(v) for v in s])

    return enc(vec_col)


def bf16_decode(bin_col: Column) -> Column:
    """binary (packed bfloat16) → array<float>: shift back into the high
    half of a float32."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<float>")
    def dec(s):
        import numpy as np
        import pandas as pd

        def one(b):
            if b is None:
                return None
            u16 = np.frombuffer(b, dtype=np.uint16).astype(np.uint32)
            # ndarray, not .tolist(): the Arrow serializer null-masks leaf
            # NaN in plain Python lists but not in numpy arrays
            return (u16 << 16).view(np.float32)

        return pd.Series([one(b) for b in s])

    return dec(bin_col)


def sq8_quantize(vec: Column) -> Column:
    """Scalar 8-bit quantization (Milvus IVF_SQ8 storage codec): per-vector
    min/range affine map to 0..255 stored as an int array — 4× smaller than
    float32 on the wire/in cache. Engine-portable arithmetic: the code
    value is floor((x-mn)/range*255 + 0.5), with a range floor guarding
    constant vectors.

    Returns a struct (mn double, rng double, codes array<int>); pair with
    sq8_dequantize. Pure column expressions — codegen'd, no UDF.
    """
    mn = F.array_min(vec).cast("double")
    rng = F.greatest(
        (F.array_max(vec).cast("double") - mn), F.lit(1e-12)
    )
    codes = F.transform(
        vec,
        lambda x: F.floor((x.cast("double") - mn) / rng * 255.0 + 0.5).cast("int"),
    )
    return F.struct(mn.alias("mn"), rng.alias("rng"), codes.alias("codes"))


def sq8_dequantize(q: Column) -> Column:
    """Inverse of sq8_quantize: mn + code/255*range, as array<double>."""
    return F.transform(
        q["codes"],
        lambda c: q["mn"] + c.cast("double") / 255.0 * q["rng"],
    )


def binary_quantize(vec: Column, centroid: Column) -> Column:
    """1-bit (sign) quantization against a corpus centroid — the storage
    idea behind binary/RaBitQ-family indexes (Gao & Long, SIGMOD 2024),
    simplified to its deterministic core: residual r = x - c, code =
    sign bits of r, plus the per-vector scale s = mean(|r_d|) that
    minimizes ||r - s·sign(r)||² over scalar s. 32× smaller than float32.

    Returns struct (scale double, bits array<boolean>); pair with
    binary_dequantize. Pure column expressions — codegen'd, no UDF.
    """
    r = F.zip_with(vec, centroid, lambda x, c: x.cast("double") - c)
    s = F.aggregate(r, F.lit(0.0), lambda a, x: a + F.abs(x)) / F.size(r)
    bits = F.transform(r, lambda x: x >= 0)
    return F.struct(s.alias("scale"), bits.alias("bits"))


def binary_dequantize(q: Column, centroid: Column) -> Column:
    """Inverse of binary_quantize: c_d ± scale, as array<double>."""
    return F.zip_with(
        q["bits"],
        centroid,
        lambda b, c: c + F.when(b, q["scale"]).otherwise(-q["scale"]),
    )


def substructure_words(q: Column, c: Column) -> Column:
    """Milvus SUBSTRUCTURE distance over packed BinaryVectors:
    1 - |q AND c| / |c| — zero iff the STORED vector ``c`` is a
    substructure of the query (every set bit of c appears in q); the
    chemical-fingerprint containment search (knowhere SUBSTRUCTURE).
    All-zero ``c`` is trivially contained → distance 0. Exact-integer
    popcounts, one division — bit-identical IEEE across engines."""
    and_cnt = F.aggregate(
        F.zip_with(q, c, lambda x, y: F.bit_count(x.bitwiseAND(y))),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    c_cnt = F.aggregate(
        c, F.lit(0), lambda acc, w: acc + F.bit_count(w)
    )
    return F.when(c_cnt == 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - and_cnt.cast("double") / c_cnt.cast("double")
    )


def superstructure_words(q: Column, c: Column) -> Column:
    """Milvus SUPERSTRUCTURE distance: 1 - |q AND c| / |q| — zero iff
    the stored vector CONTAINS the query (c is a superstructure of q):
    'find molecules containing my fragment'. All-zero query matches
    everything at distance 0."""
    and_cnt = F.aggregate(
        F.zip_with(q, c, lambda x, y: F.bit_count(x.bitwiseAND(y))),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    q_cnt = F.aggregate(
        q, F.lit(0), lambda acc, w: acc + F.bit_count(w)
    )
    return F.when(q_cnt == 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - and_cnt.cast("double") / q_cnt.cast("double")
    )
