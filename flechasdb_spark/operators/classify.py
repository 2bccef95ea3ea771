"""Hashed-bucket multinomial Naive Bayes text classification — the
relational, engine-exact member of the linear-classifier family that
LLM data pipelines use for quality and domain filtering (fastText
supervised models in CCNet/LLaMA-style curation, logistic quality
scorers in DataComp; Joulin et al. 2017 "Bag of Tricks for Efficient
Text Classification" is the published shape: hashed bag-of-words
features -> linear scores -> argmax).

Reference anchor: flechasdb has no classifier (it is a vector DB —
src/lib.rs), so this module is pure extension surface; it follows the
same determinism contract as the DSIR and unigram-LM operators
(operators/sampling.py, operators/text.py): every model weight is
quantized ONCE to integer micro-nats so per-document scores are
order-independent INTEGER sums that DuckDB reproduces bit-for-bit.

Scale (100 TB): training is one token-grain partial-agg pass
collapsing to O(L x B) rows (labels x buckets — thousands, not
corpus-sized); the model broadcasts; scoring is one explode + one
broadcast join + a map-side-combinable sum per (doc, label). The only
O(docs x L) intermediate is the per-label score table, with L the
(small) label count. No windows, no skew beyond token frequency.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from flechasdb_spark.functions.texthash import md5_long
from flechasdb_spark.operators.text import tokens

__all__ = ["nb_train", "nb_score", "nb_score_margin"]


def nb_train(
    df: DataFrame,
    label_col: str = "source",
    text_col: str = "text",
    n_buckets: int = 256,
) -> tuple[DataFrame, DataFrame]:
    """Train a multinomial NB model over hashed token buckets.

    Features are md5-hashed token buckets (the fastText hashing trick:
    fixed feature space, no vocabulary state). Add-one smoothing over
    the B buckets; weights in integer micro-nats:

    - priors:  (label, prior_lq)   prior_lq = round(1e6 * ln(d_l / d))
    - loglik:  (label, bucket, loglik_lq) DENSE over all B buckets,
      loglik_lq = round(1e6 * ln((c_lb + 1) / (n_l + B)))

    The dense grid means every scored token hits exactly one row per
    label — no unseen-feature special case at score time. A label
    whose documents contain no tokens still gets a full smoothing-floor
    row set (n_l = 0).

    One shuffle (token-grain partial agg, map-side combined), then
    O(L x B) arithmetic. Returns (priors, loglik) MATERIALIZED
    (localCheckpoint): both tables are O(L) / O(L x B) rows, but every
    downstream broadcast site (nb_score joins loglik once and priors
    twice; report rows join again) would otherwise re-derive the full
    training scan per exchange (r12, guide §2.4 — measured: the
    report row spent 25 of its 33 Spark jobs re-running the train
    chain under broadcast materializations). Values are unchanged —
    the checkpoint just pins them.
    """
    B = int(n_buckets)
    ndocs = df.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).alias("__d")
    )
    tot = ndocs.agg(F.sum("__d").alias("__t"))
    priors = ndocs.crossJoin(F.broadcast(tot)).select(
        "label",
        F.round((F.log("__d") - F.log("__t")) * 1e6)
        .cast("long")
        .alias("prior_lq"),
    )
    tok = df.select(
        F.col(label_col).alias("label"),
        F.explode(tokens(text_col)).alias("__tok"),
    )
    cnt = tok.select(
        "label", (md5_long(F.col("__tok")) % B).alias("__b")
    ).groupBy("label", "__b").agg(F.count(F.lit(1)).alias("__c"))
    n_l = cnt.groupBy("label").agg(F.sum("__c").alias("__n"))
    # dense grid from the PRIOR label set (not from cnt — a label with
    # only empty documents must still score), buckets 0..B-1
    grid = (
        ndocs.select("label")
        .join(n_l, "label", "left")
        .select(
            "label", F.coalesce("__n", F.lit(0)).alias("__n"),
            F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("__b"),
        )
    )
    loglik = (
        grid.join(cnt, ["label", "__b"], "left")
        .select(
            "label",
            F.col("__b").alias("bucket"),
            F.round(
                (
                    F.log(F.coalesce("__c", F.lit(0)) + 1)
                    - F.log(F.col("__n") + B)
                )
                * 1e6
            )
            .cast("long")
            .alias("loglik_lq"),
        )
    )
    return (
        priors.localCheckpoint(eager=True),
        loglik.localCheckpoint(eager=True),
    )


def _nb_model_literal(priors: DataFrame, loglik: DataFrame, B: int):
    """(labels, priors_lit, ll_lit) plan literals of the trained model,
    or None when the model exceeds the literal budget / is not the
    dense L x B grid. The model is O(L x B) integers — the same rows
    the former plan broadcast — so collecting it once and scoring
    map-only costs nothing new at any corpus size. Non-string label
    columns force the relational path (ADVICE r12: the literal scorer
    coerces labels through str(), which would silently flip the output
    schema to string and the tie-break to lexicographic — "10" < "9"
    — for e.g. integer classes)."""
    from pyspark.sql.types import StringType

    if not isinstance(priors.schema["label"].dataType, StringType):
        return None
    if B <= 0 or B * 8 > 65536:
        return None
    p_rows = priors.collect()
    if not p_rows or len(p_rows) * B > 65536:
        return None
    labels = sorted(str(r["label"]) for r in p_rows)
    prior_by = {str(r["label"]): int(r["prior_lq"]) for r in p_rows}
    ll: dict[str, list] = {lab: [None] * B for lab in labels}
    for r in loglik.collect():
        lab, b = str(r["label"]), int(r["bucket"])
        if lab not in ll or not 0 <= b < B:
            return None
        ll[lab][b] = int(r["loglik_lq"])
    if any(v is None for lab in labels for v in ll[lab]):
        return None  # not the dense grid nb_train produces
    import numpy as np

    P = np.array([prior_by[lab] for lab in labels], dtype=np.int64)
    LL = np.array([ll[lab] for lab in labels], dtype=np.int64)
    return labels, P, LL


def _nb_scored_top2(df: DataFrame, model, text_col: str, id_col: str, B: int):
    """df -> (id_col, __nb struct<predicted, s1, s2>) with s1/s2 the
    best / second-best label scores in micro-nats (s2 NULL at L = 1) —
    ONE map-only pass, no explode, no shuffle, no model join:

    - token buckets stay the SQL expressions (`tokens` + `md5_long`),
      so hashing is bit-identical to the relational form;
    - the per-label integer fold runs as an Arrow-batched NumPy kernel
      (guide §4.2 — the first cut folded per token per label in
      interpreted Catalyst lambdas, which kept the exchange-free plan
      but cost ~1.7x the old codegen aggregates at fixture scale):
      per-row bucket counts (bincount) x the int64 loglik matrix +
      priors. Pure int64 arithmetic — bit-identical to the
      count-times-loglik aggregate in any order.
    - ranking: labels are pre-sorted (UTF-8 byte order ≡ codepoint
      order, Spark's own string ordering), so a STABLE descending
      argsort's first/second elements ARE the (score desc, label asc)
      rn = 1/2 rows of the former window."""
    import hashlib

    import numpy as np

    labels, P, LL = model
    L = len(labels)
    # tokenization stays the codegen SQL expression (bit-identical to
    # the relational form); the kernel receives the token ARRAYS
    toks_expr = F.coalesce(tokens(text_col), F.array())

    @F.pandas_udf("struct<predicted:string, s1:long, s2:long>")
    def _score(tokens_s: pd.Series) -> pd.DataFrame:
        n = len(tokens_s)
        lists = [
            t if t is not None else [] for t in tokens_s
        ]
        lens = np.array([len(t) for t in lists], dtype=np.int64)
        counts = np.zeros((n, B), dtype=np.int64)
        if lens.sum():
            flat = np.concatenate(
                [np.asarray(t, dtype=object) for t in lists if len(t)]
            )
            # md5 only the UNIQUE tokens of the batch (the vocabulary
            # is tiny next to the token stream), identical arithmetic
            # to md5_long: first 15 hex chars as a 60-bit int, mod B
            uniq, inv = np.unique(flat, return_inverse=True)
            ub = np.array(
                [
                    int(
                        hashlib.md5(str(u).encode("utf-8")).hexdigest()[:15],
                        16,
                    )
                    % B
                    for u in uniq
                ],
                dtype=np.int64,
            )
            rows = np.repeat(np.arange(n), lens)
            np.add.at(counts, (rows, ub[inv]), 1)
        scores = counts @ LL.T + P[None, :]  # (n, L) int64, exact
        # stable argsort on -scores: ties keep index order = label asc
        order = np.argsort(-scores, axis=1, kind="stable")
        best = order[:, 0]
        s1 = scores[np.arange(n), best]
        out = {
            "predicted": pd.array(
                [labels[j] for j in best], dtype="string"
            ),
            "s1": s1,
        }
        if L >= 2:
            second = order[:, 1]
            out["s2"] = scores[np.arange(n), second]
        else:
            out["s2"] = pd.array([None] * n, dtype="Int64")
        return pd.DataFrame(out)

    return df.select(F.col(id_col), _score(toks_expr).alias("__nb"))


def nb_score(
    df: DataFrame,
    priors: DataFrame,
    loglik: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
) -> DataFrame:
    """Score every document against every label and keep the argmax.

    ``n_buckets`` must match the train call (same contract as the
    Bloom probe sizing). score(doc, l) = prior_lq[l] +
    sum_b c_db * loglik_lq[l, b] — an integer sum, so the argmax (and
    its deterministic tie-break: highest score, then smallest label
    string) is engine-exact. Empty documents score priors only, i.e.
    predict the majority training label.

    Plan (r12, guide §2.4): the trained model is O(L x B) integers, so
    it rides as a plan literal and the whole scoring pass is ONE
    map-only codegen projection — token buckets via a higher-order
    transform (no explode), one integer fold per label, argmax =
    ``array_min`` over struct(-score, label). No token-grain shuffle,
    no broadcast joins, no docs-spine rejoin; empty documents fold
    nothing and naturally take the prior-only argmax. Values are
    identical to the former explode + partial-agg + broadcast-join
    shape (integer sums in any order), which remains as the fallback
    for a model past the literal budget.

    Returns (id_col, predicted, score_micro_nats).
    """
    B = int(n_buckets)
    lits = _nb_model_literal(priors, loglik, B)
    if lits is not None:
        return _nb_scored_top2(df, lits, text_col, id_col, B).select(
            id_col,
            F.col("__nb")["predicted"].alias("predicted"),
            F.col("__nb")["s1"].alias("score_micro_nats"),
        )
    dtok = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("__tok")
    )
    dbc = dtok.select(
        id_col, (md5_long(F.col("__tok")) % B).alias("__b")
    ).groupBy(id_col, "__b").agg(F.count(F.lit(1)).alias("__c"))
    argmax = F.min(
        F.struct((-F.col("__score")).alias("ns"), F.col("label"))
    ).alias("__m")
    best = (
        dbc.join(F.broadcast(loglik), dbc["__b"] == loglik["bucket"])
        .groupBy(id_col, "label")
        .agg(F.sum(F.col("__c") * F.col("loglik_lq")).alias("__s"))
        .join(F.broadcast(priors), "label")
        .select(
            id_col, "label",
            (F.col("prior_lq") + F.col("__s")).alias("__score"),
        )
        .groupBy(id_col)
        .agg(argmax)
    )
    default = priors.select(
        F.col("prior_lq").alias("__score"), "label"
    ).agg(argmax)
    return (
        df.select(id_col)
        .join(best, id_col, "left")
        .crossJoin(F.broadcast(default.select(F.col("__m").alias("__d"))))
        .select(
            id_col,
            F.coalesce(F.col("__m.label"), F.col("__d.label")).alias(
                "predicted"
            ),
            F.coalesce(-F.col("__m.ns"), -F.col("__d.ns")).alias(
                "score_micro_nats"
            ),
        )
    )


def nb_score_margin(
    df: DataFrame,
    priors: DataFrame,
    loglik: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
) -> DataFrame:
    """Score with the top-2 label margin — the classifier's native
    confidence signal. NB micro-nat scores are not probabilities (a
    softmax over them would reintroduce order-dependent float sums),
    but the GAP between the best and second-best label IS an exact
    integer, and empirical accuracy binned by that gap is the
    calibration evidence a curation pipeline needs before thresholding
    a quality/domain classifier at corpus scale (the fastText-filter
    practice of keeping only confident predictions).

    Plan: the same one-shuffle per-(doc, bucket) count table as
    ``nb_score``, broadcast-joined to the dense O(L x B) loglik; the
    full docs x L score table is then a broadcast cross join of the
    O(L) priors against the doc spine (BroadcastNestedLoopJoin — map
    side, no shuffle) left-joined to the per-(doc, label) sums, so
    documents with no tokens score priors-only without a special case.
    Top-2 per doc via ``row_number() <= 2`` (WindowGroupLimit pushes
    the limit into the sort — never a full per-doc sort spill).

    margin_micro_nats = score(top1) - score(top2); a single-label
    model has no runner-up and reports margin 0 (fully ambiguous
    would also be 0 — callers with L = 1 have no decision to audit).

    Returns (id_col, predicted, score_micro_nats, margin_micro_nats).
    """
    from pyspark.sql import Window

    B = int(n_buckets)
    lits = _nb_model_literal(priors, loglik, B)
    if lits is not None:
        s1 = F.col("__nb")["s1"]
        s2 = F.col("__nb")["s2"]
        return _nb_scored_top2(df, lits, text_col, id_col, B).select(
            F.col(id_col),
            F.col("__nb")["predicted"].alias("predicted"),
            s1.cast("long").alias("score_micro_nats"),
            (s1 - F.coalesce(s2, s1)).cast("long").alias(
                "margin_micro_nats"
            ),
        )
    dtok = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("__tok")
    )
    dbc = dtok.select(
        id_col, (md5_long(F.col("__tok")) % B).alias("__b")
    ).groupBy(id_col, "__b").agg(F.count(F.lit(1)).alias("__c"))
    sums = (
        dbc.join(F.broadcast(loglik), dbc["__b"] == loglik["bucket"])
        .groupBy(id_col, "label")
        .agg(F.sum(F.col("__c") * F.col("loglik_lq")).alias("__s"))
    )
    base = (
        df.select(id_col)
        .crossJoin(F.broadcast(priors))
        .join(sums, [id_col, "label"], "left")
        .select(
            id_col,
            "label",
            (F.col("prior_lq") + F.coalesce(F.col("__s"), F.lit(0)))
            .cast("long")
            .alias("__score"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("__score").desc(), F.col("label").asc()
    )
    ranked = base.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= 2
    )
    return (
        ranked.groupBy(id_col)
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("label"))).alias(
                "predicted"
            ),
            F.max(F.when(F.col("rn") == 1, F.col("__score"))).alias("__s1"),
            F.max(F.when(F.col("rn") == 2, F.col("__score"))).alias("__s2"),
        )
        .select(
            id_col,
            "predicted",
            F.col("__s1").cast("long").alias("score_micro_nats"),
            (F.col("__s1") - F.coalesce(F.col("__s2"), F.col("__s1")))
            .cast("long")
            .alias("margin_micro_nats"),
        )
    )
