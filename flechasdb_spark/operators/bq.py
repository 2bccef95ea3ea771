"""Binary quantization — sign bits packed into 32-bit words + Hamming
distance kNN. The fourth quantizer family (PQ = dimension split,
SQ8 = per-dim affine, RQ = additive levels, BQ = 1 bit/dim), the
classic binary-hashing baseline: 32x compression over f32 and distance
= popcount(xor), pure integer arithmetic — the ONLY quantizer here
whose whole pipeline is bit-exact across engines with no rounding
contract at all.

No reference counterpart; extension surface. Everything is Catalyst
expressions (no UDFs): packing is a fold over a 32-element sequence,
distance is xor + bit_count per word — whole-stage codegen'd.

Scale: encode is map-only (no shuffle); kNN is a map-only scan +
TakeOrderedAndProject. 32 bits per word (not 64) so the packed words
stay comfortably inside signed BIGINT on every engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "asymmetric_score_checked",
    "asymmetric_score_join_checked",
    "asymmetric_weights_micro",
    "bq_encode",
    "bq_thresholds",
    "hamming_asymmetric_knn",
    "hamming_knn",
    "hamming_range",
    "pack_bits_py",
]

WORD_BITS = 32


def bq_thresholds(
    vectors: DataFrame, vec_col: str = "embedding"
) -> list[float]:
    """Per-dimension mean — the standard data-dependent bit threshold
    (bit = value > mean). One partial-agg pass. NOTE: float mean is
    summation-order-dependent in the last ulp, so a mean-thresholded
    encode is deterministic per run but not oracle-bit-exact; the
    fixed-zero threshold (bq_encode default) is."""
    n = vectors.select(F.size(F.col(vec_col)).alias("n")).first()["n"]
    row = vectors.agg(
        *[
            F.avg(F.element_at(F.col(vec_col), j + 1)).alias(f"m{j}")
            for j in range(n)
        ]
    ).first()
    return [float(row[f"m{j}"]) for j in range(n)]


def _packed_words(
    vec_col: str, dim: int, thresholds: list[float] | None
) -> Column:
    """array<bigint> of ceil(dim/32) words; word w bit j (LSB-first) =
    1 iff vec[w*32 + j] > threshold[w*32 + j]."""
    from flechasdb_spark.functions.linalg import lit_doubles

    n_words = (dim + WORD_BITS - 1) // WORD_BITS
    # r13: one aggregate over the word's dim positions instead of the
    # per-bit unrolled when-chain — the integer sum runs in the same
    # ascending-position order (0 + b_0 + b_1 + ...), so the packed
    # value is identical, while plan construction drops from O(dim)
    # py4j round-trips to O(n_words) and the tree from O(dim) nodes.
    thr_lit = (
        None if thresholds is None
        else lit_doubles([float(t) for t in thresholds])
    )
    words = []
    for w in range(n_words):
        lo, hi = w * WORD_BITS, min((w + 1) * WORD_BITS, dim) - 1
        base = F.lit(w * WORD_BITS)

        def _bit(acc, p):
            thr = (
                F.lit(0.0) if thr_lit is None
                else F.element_at(thr_lit, (p + 1).cast("int"))
            )
            one = F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                (p - base).cast("int"),
            )
            return acc + F.when(
                F.element_at(F.col(vec_col), (p + 1).cast("int")) > thr,
                one,
            ).otherwise(F.lit(0).cast("long"))

        words.append(
            F.aggregate(
                F.sequence(F.lit(lo), F.lit(hi)),
                F.lit(0).cast("long"),
                _bit,
            )
        )
    return F.array(*words)


def bq_encode(
    vectors: DataFrame,
    dim: int,
    thresholds: list[float] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, words array<bigint>): sign bits vs ``thresholds`` (default:
    fixed 0.0 — bit-exact cross-engine; pass ``bq_thresholds(df)`` for
    the mean-centered variant), packed LSB-first into 32-bit words.
    Map-only, codegen'd."""
    return vectors.select(
        F.col(id_col),
        _packed_words(vec_col, dim, thresholds).alias("words"),
    )


def pack_bits_py(vec, thresholds=None) -> list[int]:
    """Driver-side packing of one query vector (same rule as
    bq_encode)."""
    words = []
    for w in range(0, len(vec), WORD_BITS):
        word = 0
        for j, v in enumerate(vec[w : w + WORD_BITS]):
            thr = 0.0 if thresholds is None else float(thresholds[w + j])
            if float(v) > thr:
                word |= 1 << j
        words.append(word)
    return words


def _hamming_dist_checked(query_words: list[int]) -> Column:
    """Word-wise popcount(xor) distance to the packed query, guarded
    against a query/code width mismatch (ADVICE r10): `zip_with`
    null-pads the shorter side and `bit_count(NULL)` propagates NULL
    through the fold, which would make every comparison silently false
    — a malformed query would return an EMPTY result instead of an
    error. The guard is a codegen `when/raise_error` on
    `size(words)`, so it costs nothing extra (same scan) and fails
    loudly on the first mismatched row, matching the repo's
    loud-failure convention (flat-layout guard, missing-cell guard)."""
    from flechasdb_spark.functions.linalg import lit_longs

    nw = len(query_words)
    qw = lit_longs(query_words)
    dist = F.aggregate(
        F.zip_with(
            F.col("words"), qw, lambda a, b: F.bit_count(a.bitwiseXOR(b))
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return F.when(F.size(F.col("words")) == nw, dist).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"hamming query has {nw} words but encoded row has "
                ),
                F.size(F.col("words")).cast("string"),
                F.lit(" — query/code width mismatch"),
            )
        )
    )


def hamming_knn(
    encoded: DataFrame,
    query_words: list[int],
    k: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k by Hamming distance to a packed query: distance =
    sum over words of bit_count(xor(word, qword)) — integer-exact, no
    rounding contract needed. Map-only scan + TakeOrderedAndProject;
    ties break by id ascending."""
    dist = _hamming_dist_checked(query_words)
    return (
        encoded.select(F.col(id_col), dist.alias("hamming_distance"))
        .orderBy(F.col("hamming_distance").asc(), F.col(id_col).asc())
        .limit(k)
    )


def hamming_range(
    encoded: DataFrame,
    query_words: list[int],
    radius: int,
    id_col: str = "vec_id",
    limit: int | None = None,
) -> DataFrame:
    """RADIUS search in Hamming space (r10 — the range contract on the
    binary family, completing radius parity across exact / SQ / PQ /
    BQ): every code within ``radius`` flipped bits of the packed
    query. Integer-exact end to end — no rounding contract needed, so
    the boundary is perfectly stable across engines. Map-only codegen
    filter (popcount(xor) per word); only matches are sorted, and
    ``limit`` (ordered) caps a pathological radius. This is the
    primitive behind SimHash-style near-dup sweeps: "every document
    whose signature differs in <= r bits". A query whose word count
    does not match the encoded width raises at execution (see
    `_hamming_dist_checked`) instead of silently returning empty."""
    dist = _hamming_dist_checked(query_words)
    out = (
        encoded.select(F.col(id_col), dist.alias("hamming_distance"))
        .where(F.col("hamming_distance") <= int(radius))
        .orderBy(F.col("hamming_distance").asc(), F.col(id_col).asc())
    )
    if limit is not None:
        out = out.limit(int(limit))
    return out


def asymmetric_weights_micro(vec, thresholds=None) -> list[int]:
    """Driver-side per-dim weights for `hamming_asymmetric_knn`:
    floor(|q_d - thr_d| * 1e6) — the query coordinate's margin from
    the bit hyperplane, in integer micro-units (floor on BOTH engines;
    the repo's integer-exact convention, so the asymmetric score needs
    no float rounding contract at all)."""
    import math

    out = []
    for d, v in enumerate(vec):
        thr = 0.0 if thresholds is None else float(thresholds[d])
        out.append(int(math.floor(abs(float(v) - thr) * 1e6)))
    return out


def asymmetric_score_checked(
    query_vector, thresholds: list[float] | None = None
) -> Column:
    """The guarded asymmetric score column over a packed ``words``
    row: sum over disagreeing dims of the query's micro-unit margin
    (`asymmetric_weights_micro`), for the flat scan
    (`hamming_asymmetric_knn`); the probe-pruned IVF forms score with
    the join form, `asymmetric_score_join_checked`. Same width guard
    as `_hamming_dist_checked`."""
    from flechasdb_spark.functions.linalg import lit_longs

    qv = [float(x) for x in query_vector]
    w = asymmetric_weights_micro(qv, thresholds)
    dim = len(qv)
    n_words = (dim + WORD_BITS - 1) // WORD_BITS
    guard = F.size(F.col("words")) == n_words
    # r13: the query's packed bits and margins ride as two array
    # literals and the per-dim unrolled when-chain becomes one
    # aggregate over sequence(0, dim-1) — the join scorer's O(1)-node
    # shape (asymmetric_score_join_checked). The integer sum runs in
    # the same ascending-dim order over the same addends, so the score
    # is identical; plan construction drops from O(dim) py4j
    # round-trips to O(1).
    qw_lit = lit_longs(pack_bits_py(qv, thresholds))
    wt_lit = lit_longs(w)
    mask = F.lit(WORD_BITS - 1)

    def _bit(col, d):
        word = F.element_at(col, (F.shiftright(d, 5) + F.lit(1)).cast("int"))
        return F.call_function(
            "shiftright", word, d.bitwiseAND(mask).cast("int")
        ).bitwiseAND(F.lit(1))

    acc = F.aggregate(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        F.lit(0).cast("long"),
        lambda a, d: a
        + F.when(
            _bit(F.col("words"), d) != _bit(qw_lit, d),
            F.element_at(wt_lit, (d + 1).cast("int")),
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.when(guard, acc).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"asymmetric query has {n_words} words but encoded "),
                F.lit("row has "),
                F.size(F.col("words")).cast("string"),
            )
        )
    )


def asymmetric_score_join_checked(dim: int) -> Column:
    """Batch/JOIN form of `asymmetric_score_checked` (r12): scores the
    encoded ``words`` against a JOINED query's packed bits ``__qw``
    (array<bigint>) and per-dim micro-unit margins ``__qwt``
    (array<bigint>, length dim, from `asymmetric_weights_micro`) —
    the scorer of every probe-pruned IVF form (`plans.ivfbq`'s scan
    core), where a per-query literal would grow the plan O(Q * dim)
    for a batch. Here the plan is O(1)
    nodes for ANY Q: one codegen ``aggregate`` over
    ``sequence(0, dim-1)`` extracting both bits by integer shift/mask
    (d >> 5 words-index, d & 31 bit-index — WORD_BITS = 32) and
    adding the query's margin on disagreement. Same integer-exact
    contract and width guard as the solo scorer; value equality
    solo == join is pytest-gated."""
    n_words = (int(dim) + WORD_BITS - 1) // WORD_BITS
    mask = F.lit(WORD_BITS - 1)  # d & 31; d >> 5 below is d // WORD_BITS

    def bit_of(col_name: str, d: Column) -> Column:
        word = F.element_at(
            F.col(col_name), (F.shiftright(d, 5) + F.lit(1)).cast("int")
        )
        # the Python shiftright wrapper only takes a literal shift —
        # the per-dim variable shift goes through the SQL function
        return F.call_function(
            "shiftright", word, d.bitwiseAND(mask)
        ).bitwiseAND(F.lit(1))

    score = F.aggregate(
        F.sequence(F.lit(0), F.lit(int(dim) - 1)),
        F.lit(0).cast("long"),
        lambda acc, d: acc
        + F.when(
            bit_of("words", d) != bit_of("__qw", d),
            F.element_at(F.col("__qwt"), (d + F.lit(1)).cast("int")).cast(
                "long"
            ),
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.when(F.size(F.col("words")) == n_words, score).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"asymmetric query has {n_words} words but encoded "),
                F.lit("row has "),
                F.size(F.col("words")).cast("string"),
            )
        )
    )


def hamming_asymmetric_knn(
    encoded: DataFrame,
    query_vector,
    k: int,
    thresholds: list[float] | None = None,
    id_col: str = "vec_id",
) -> DataFrame:
    """ASYMMETRIC binary scoring (r11): the corpus stays 1 bit/dim but
    the QUERY is never quantized — score = sum over disagreeing dims
    of the query's margin |q_d - thr_d| (micro-unit integers). A dim
    where the query sits far from the threshold counts heavily when
    the stored bit contradicts it; a dim where the query is near the
    hyperplane (its own bit is unreliable) costs almost nothing —
    which is exactly the information symmetric Hamming throws away
    (asymmetric-distance binary hashing, same storage, better
    ranking; the BQ-side analogue of PQ's ADC asymmetric scoring and
    of `plans/ivf.py`'s ADC-vs-SDC choice).

    Codegen shape: per-dim weights are plan literals, bit extraction
    is literal shift/mask on the packed words — map-only scan +
    TakeOrderedAndProject, no Python, no shuffle. The unrolled
    expression is O(dim) plan nodes: fine through a few hundred dims;
    past that, slice the scoring to the top-variance dims or fall
    back to symmetric `hamming_knn` (documented bound, loud by
    construction since the plan itself grows).

    Ties break by id. Returns (id_col, asym_micro)."""
    score = asymmetric_score_checked(query_vector, thresholds)
    return (
        encoded.select(F.col(id_col), score.alias("asym_micro"))
        .orderBy(F.col("asym_micro").asc(), F.col(id_col).asc())
        .limit(int(k))
    )
