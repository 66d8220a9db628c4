"""Distributed linear-model machinery for the ML-harness operators.

The reference trains sklearn models inside Dask futures
(/root/reference/metrics.py:34-42, tuners.py:52-146). sklearn is not in
this container, and shipping whole fitted models is the reference's
scalability sin anyway. The Spark-first replacement is a ridge
regression fit by **additive sufficient statistics**:

    XtX = Σ xᵀx,  Xty = Σ xᵀy   (x includes an intercept column)

- ONE distributed pass (mapInPandas partial sums → groupBy-sum of
  ~ (d+1)² floats per fold) computes the per-fold statistics.
- Train statistics for fold i are total − fold_i, so k-fold CV needs
  ONE pass, not k (the reference scatters k copies: tuners.py:129-135).
- λ enters only at the (d+1)×(d+1) driver-side solve, so an entire
  hyperparameter grid reuses the same pass.
- Prediction is a pure `zip_with` dot-product expression — JVM-side,
  codegen, no Python in the scoring path.

At 100 TB: the data pass shuffles k·(d+1)² doubles, the solve is
milliseconds, scoring is a broadcast join + expression. Nothing scales
with rows except the two scans.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from .functions import corr_safe
from .sources import load_table

DIM = 64  # embeddings feature width


N_INFORMATIVE = 8  # features 0..7 carry the planted signal
ERA_DOMAIN = tuple(range(20))  # era = vec_id % 20 ⇒ domain known statically


def planted_weight(d: int) -> float:
    return float((d % 3) + 1)


def supervised_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numerai-shaped supervised frame from the embeddings table:
    (vec_id, era, features array<double>[64], y). era = vec_id % 20 —
    the static time bucket of the reference (utils.py:18).

    The target has PLANTED informative features (FIXTURES.md §1): a
    fixed linear signal on features 0..7 plus deterministic hash noise
    and a label component — so importance rankings (MDA/SHAP) have a
    ground truth and CV scores have real signal to find."""
    emb = load_table(spark, sf_dir, "embeddings")
    feats = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    signal = sum(
        F.element_at(F.col("features"), d + 1) * F.lit(planted_weight(d))
        for d in range(N_INFORMATIVE)
    )
    # mod-first: congruent to (vec_id * K) % 1000 but overflow-free at
    # corpus-scale ids (ANSI mode errors on int64 overflow)
    noise = (((F.col("vec_id") % 1000) * 2654435761) % 1000) / 1000.0 - 0.5
    return (
        emb.select(
            "vec_id",
            (F.col("vec_id") % 20).cast("int").alias("era"),
            feats.alias("features"),
            F.col("label").cast("double").alias("label_y"),
        )
        .withColumn("y", signal + 0.1 * F.col("label_y") + 0.05 * noise)
        .drop("label_y")
    )


# ----------------------------------------------------- sufficient stats

def _suffstat_mapper(group: str, dim: int):
    width = (dim + 1) * (dim + 1) + (dim + 1) + 1

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict[int, np.ndarray] = {}
        for pdf in batches:
            for g, sub in pdf.groupby(group):
                X = np.stack(sub["features"].to_numpy()).astype(np.float64)
                X = np.hstack([np.ones((len(sub), 1)), X])
                y = sub["y"].to_numpy(dtype=np.float64)
                flat = acc.setdefault(int(g), np.zeros(width))
                flat[: (dim + 1) ** 2] += (X.T @ X).ravel()
                flat[(dim + 1) ** 2 : -1] += X.T @ y
                flat[-1] += len(sub)
        if acc:  # empty partitions yield nothing (Arrow can't type an
            # empty ndarray column as list<double>)
            yield pd.DataFrame(
                {group: list(acc.keys()), "vals": [flat.tolist() for flat in acc.values()]}
            )

    return fn


def fold_suffstats(df: DataFrame, group: str = "fold", dim: int = DIM) -> dict[int, tuple[np.ndarray, np.ndarray, float]]:
    """One distributed pass → {group: (XtX, Xty, n)}.

    Partial statistics travel as ONE array row per (partition, group) —
    ~(partitions×k) rows of (d+1)²+d+2 doubles — and merge by
    element-wise array addition in the aggregate, not (group, idx)
    scalar rows (which would shuffle (d+1)²× more rows)."""
    width = (dim + 1) * (dim + 1) + (dim + 1) + 1
    rows = df.mapInPandas(
        _suffstat_mapper(group, dim), schema=f"{group} int, vals array<double>"
    )
    zero = F.array_repeat(F.lit(0.0), width)
    merged = rows.groupBy(group).agg(
        F.aggregate(
            F.collect_list("vals"), zero, lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b)
        ).alias("vals")
    )
    pdf = merged.toPandas()
    out: dict[int, tuple[np.ndarray, np.ndarray, float]] = {}
    d1 = dim + 1
    for _, row in pdf.iterrows():
        flat = np.asarray(row["vals"])
        out[int(row[group])] = (
            flat[: d1 * d1].reshape(d1, d1),
            flat[d1 * d1 : -1],
            float(flat[-1]),
        )
    return out


def ridge_solve(xtx: np.ndarray, xty: np.ndarray, lam: float) -> np.ndarray:
    """(XtX + λI)⁻¹ Xty; the intercept is not penalized."""
    pen = np.eye(len(xtx)) * lam
    pen[0, 0] = 0.0
    return np.linalg.solve(xtx + pen, xty)


def fit_fold_models(
    stats: dict[int, tuple[np.ndarray, np.ndarray, float]], lam: float
) -> dict[int, np.ndarray]:
    """Leave-one-fold-out coefficients from per-fold statistics:
    train_i = Σ_j stats_j − stats_i (no second data pass)."""
    xtx_all = sum(s[0] for s in stats.values())
    xty_all = sum(s[1] for s in stats.values())
    return {
        g: ridge_solve(xtx_all - s[0], xty_all - s[1], lam) for g, s in stats.items()
    }


def fit_global_model(
    stats: dict[int, tuple[np.ndarray, np.ndarray, float]], lam: float
) -> np.ndarray:
    xtx_all = sum(s[0] for s in stats.values())
    xty_all = sum(s[1] for s in stats.values())
    return ridge_solve(xtx_all, xty_all, lam)


# ----------------------------------------- nonlinear kernel: GBT stumps
#
# The reference's model slot is sklearn RandomForest
# (/root/reference/metrics.py:34-42); the container has no sklearn, and
# shipping fitted models is the wrong distributed shape anyway. This is
# the nonlinear in-numpy kernel behind the same M3/X1 harness: gradient-
# boosted regression stumps fit by DISTRIBUTED HISTOGRAM AGGREGATION —
# the LightGBM/XGBoost-on-cluster design:
#
# - each boosting round is ONE distributed pass producing per-
#   (fold, feature, bin) residual sums/counts (a k·d·B-row table,
#   ~10k floats — independent of row count);
# - the driver picks each fold's best stump from the histogram and
#   appends it to that fold's ensemble (milliseconds);
# - all k leave-one-fold-out models advance in the SAME pass: a row
#   contributes residuals to every fold model except its own, so k-fold
#   CV costs T passes total, not k·T (the same trick fold_suffstats
#   plays for the linear kernel);
# - no randomness anywhere (full-data deterministic boosting), so for a
#   fixed partitioning results are bit-stable under retries. A different
#   partition count (and with it the collect_partials switch below)
#   regroups the histogram's float sums, which can move their last bits
#   and so flip a near-tie between two splits.
#
# A stump is (feature, threshold, left, right) and goes left iff
# x ≤ threshold. The thresholds are the fixed grid of gbt_edges, and the
# training bins are defined FROM that grid (see _gbt_bins_expr), so the
# boosting loop and every consumer apply the same split rule.
#
# At 100 TB: T × (one scan + a k·d·B-row shuffle). Nothing scales with
# rows except the scans; the model that ships to executors is a list of
# (feature, threshold, left, right) tuples — KBs.

GBT_ROUNDS = 12
GBT_BINS = 16
GBT_LR = 0.5


def predict_stumps(stumps: list[tuple[int, float, float, float]], X: np.ndarray) -> np.ndarray:
    """Ensemble prediction: Σ_t where(x_f ≤ thr, left, right)."""
    out = np.zeros(len(X))
    for f, thr, vl, vr in stumps:
        out += np.where(X[:, f] <= thr, vl, vr)
    return out


def feature_bounds(df: DataFrame, dim: int = DIM) -> tuple[np.ndarray, np.ndarray]:
    """Per-feature (min, max) in one pass — the fixed histogram grid."""
    melted = df.select(F.posexplode("features").alias("f", "v"))
    pdf = melted.groupBy("f").agg(F.min("v").alias("mn"), F.max("v").alias("mx")).toPandas()
    mn, mx = np.zeros(dim), np.ones(dim)
    for _, r in pdf.iterrows():
        mn[int(r["f"])], mx[int(r["f"])] = r["mn"], r["mx"]
    return mn, np.where(mx > mn, mx, mn + 1.0)


def gbt_edges(mn: np.ndarray, mx: np.ndarray, n_bins: int) -> np.ndarray:
    """(d, n_bins-1) grid of the only thresholds a stump can have:
    edges[f, j] = mn[f] + (j+1)·(mx[f]-mn[f])/n_bins."""
    return mn[:, None] + np.arange(1, n_bins)[None, :] * (mx - mn)[:, None] / n_bins


def _gbt_bins_expr(edges: np.ndarray) -> Column:
    """The histogram bin of each feature as a JVM tinyint-array
    expression over ``features``: the index of the first edge e with
    ``x <= e``, or n_bins-1 if there is none.

    The search evaluates nothing but the consumers' own test
    ``x <= edges[f, j]``, and that test is monotone in j because the
    edges never descend, so ``bin(x) <= b`` ⟺ ``x <= edges[f, b]``
    for every value. NaN and NULL pass no test, so they land in the
    last bin and go right, as in every consumer. A binary search takes
    log2(n_bins) comparisons per feature where counting the edges one
    by one takes n_bins-1 and costs about 3× as much per row.
    Computing bins JVM-side means each boosting round ships (fold, y,
    bins) — ~74 bytes/row as Arrow int8 lists — instead of the
    65-double feature array (~530 bytes/row)."""

    def first_left(x: Column, es: Column, lo: int, hi: int) -> Column:
        # least j in [lo, hi) with x <= es[j]; hi if there is none
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(
            x <= F.element_at(es, mid + 1), first_left(x, es, lo, mid)
        ).otherwise(first_left(x, es, mid + 1, hi))

    # one array literal per feature: a literal per edge puts ~1,000
    # nodes in the plan, which costs the driver about a second per fit
    edge_arr = F.array(*[F.lit(row) for row in edges])
    return F.zip_with(
        "features",
        edge_arr,
        lambda x, es: first_left(x, es, 0, edges.shape[1]).cast("tinyint"),
    )


def _gbt_hist_mapper_arrow(models: dict[int, list], n_bins: int, d: int):
    """Per-partition (fold, y, bins) → nonzero histogram cells.

    Input arrives as Arrow record batches whose ``bins`` column is a
    list<int8> of fixed length d, so the whole batch reshapes from the
    flat values buffer with zero per-row Python. ``models`` holds each
    fold's stumps as (f, b, vl, vr) and applies them as ``bin <= b``,
    which is ``x <= edges[f, b]`` by construction of the bins."""

    def fn(batches):
        import pyarrow as pa

        folds = sorted(models)
        k = len(folds)
        sr = np.zeros((k, d, n_bins))
        cnt = np.zeros((k, d, n_bins))
        offsets = np.arange(d, dtype=np.int64) * n_bins
        seen = False
        for rb in batches:
            seen = True
            fold = rb.column(0).to_numpy(zero_copy_only=False)
            y = rb.column(1).to_numpy(zero_copy_only=False)
            flat = np.asarray(rb.column(2).flatten())
            if flat.size != len(y) * d:  # ragged row — never true for
                raise ValueError("bins rows are not fixed-length")  # fixed-width features
            B = flat.reshape(len(y), d).astype(np.int64, copy=False)
            for mi, m in enumerate(folds):
                mask = fold != m  # leave-one-fold-out training rows
                if not mask.any():
                    continue
                pred = np.zeros(len(y))
                for f, b, vl, vr in models[m]:
                    pred += np.where(B[:, f] <= b, vl, vr)
                resid = (y - pred)[mask]
                # ONE d·n_bins bincount per fold instead of d calls:
                # offset each feature's bins into a disjoint range;
                # row-major ravel keeps each bin's float accumulation
                # in row order, so the sums equal the per-feature form
                flatidx = (B[mask] + offsets).ravel()
                sr[mi] += np.bincount(
                    flatidx, weights=np.repeat(resid, d), minlength=d * n_bins
                ).reshape(d, n_bins)
                cnt[mi] += np.bincount(flatidx, minlength=d * n_bins).reshape(d, n_bins)
        if seen:
            mi, fi, bi = np.nonzero(cnt)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.asarray([folds[i] for i in mi], dtype=np.int32)),
                    pa.array(fi.astype(np.int32)),
                    pa.array(bi.astype(np.int32)),
                    pa.array(sr[mi, fi, bi]),
                    pa.array(cnt[mi, fi, bi]),
                ],
                names=["fold", "feature", "bin", "sr", "cnt"],
            )

    return fn


def _best_stump(hist: np.ndarray, counts: np.ndarray, lr: float) -> tuple[int, int, float, float]:
    """Pick the (feature, boundary) stump maximizing SSE reduction
    Σl²/nl + Σr²/nr from a (d, B) residual-sum/count histogram; leaves
    predict lr × mean residual. Returns (f, b, vl, vr): bins 0..b go
    left, i.e. the threshold is ``gbt_edges(...)[f, b]``."""
    d, B = hist.shape
    sl = np.cumsum(hist, axis=1)[:, :-1]       # left sums at each boundary
    cl = np.cumsum(counts, axis=1)[:, :-1]
    s, c = hist.sum(axis=1, keepdims=True), counts.sum(axis=1, keepdims=True)
    srt, crt = s - sl, c - cl
    with np.errstate(divide="ignore", invalid="ignore"):
        gain = np.where(cl > 0, sl**2 / cl, 0.0) + np.where(crt > 0, srt**2 / crt, 0.0)
    gain = np.where((cl > 0) & (crt > 0), gain, -np.inf)
    f, b = np.unravel_index(int(np.argmax(gain)), gain.shape)
    vl = float(lr * sl[f, b] / cl[f, b]) if cl[f, b] > 0 else 0.0
    vr = float(lr * srt[f, b] / crt[f, b]) if crt[f, b] > 0 else 0.0
    return int(f), int(b), vl, vr


def fit_gbt_fold_models(
    df: DataFrame,
    k: int = 5,
    n_rounds: int = GBT_ROUNDS,
    n_bins: int = GBT_BINS,
    lr: float = GBT_LR,
    dim: int = DIM,
) -> dict[int, list[tuple[int, float, float, float]]]:
    """Leave-one-fold-out GBT-stump ensembles, all folds per pass.

    ``df`` must carry (features, y, fold). Returns {fold: stumps} with
    each stump as (f, thr, vl, vr), thr = ``gbt_edges(...)[f, b]``.

    The bin index is all the histogram needs, it never changes across
    rounds, and it is 8× narrower than the features, so rounds scan a
    (fold, y, bins) projection (:func:`_gbt_bins_expr`) and fit in bin
    space; a stump's bin boundary becomes its threshold only at return.
    Because the bins are defined from the thresholds, the returned
    model is the one the boosting loop fit."""
    mn, mx = feature_bounds(df, dim)
    edges = gbt_edges(mn, mx, n_bins)
    # cached: the bin projection never changes across rounds, and the
    # per-feature edge search is the expensive part of the round
    # scan — compute it once, let rounds 2..T read the ~80 B/row cache
    # (sequential actions, so no AQE cache race here). Every round has
    # collected before return, so the cache is released at exit rather
    # than pinned for the caller.
    fit_in = df.select(
        F.col("fold").cast("int").alias("fold"),
        F.col("y").cast("double").alias("y"),
        _gbt_bins_expr(edges).alias("bins"),
    ).persist()
    models: dict[int, list] = {m: [] for m in range(k)}
    # Partial-combine placement: each task emits at most k·d·B nonzero
    # cells (5,120 at k=5, d=64, B=16), so collecting the partials
    # directly costs the driver up to tasks × k·d·B rows per round —
    # about 1.3 M rows (~37 MB) at 256 tasks. In exchange it saves one
    # Exchange + one stage per boosting round (12 rounds = 12
    # exchanges, where the rounds are pure job overhead). Above 256
    # tasks (any real cluster scan) the map-side-combined groupBy
    # merges first and the driver reads k·d·B rows. The switch derives
    # from the actual partition count, not a local constant — same
    # pattern as sources.spread_scan.
    collect_partials = fit_in.rdd.getNumPartitions() <= 256
    for _ in range(n_rounds):
        rows = fit_in.mapInArrow(
            _gbt_hist_mapper_arrow(models, n_bins, dim),
            schema="fold int, feature int, bin int, sr double, cnt double",
        )
        if not collect_partials:
            rows = rows.groupBy("fold", "feature", "bin").agg(
                F.sum("sr").alias("sr"), F.sum("cnt").alias("cnt")
            )
        pdf = rows.toPandas()
        for m in models:
            sub = pdf[pdf["fold"] == m]
            hist = np.zeros((dim, n_bins))
            counts = np.zeros((dim, n_bins))
            # accumulate (duplicates arrive per task on the partials
            # path; the groupBy path has pre-merged them) in collect
            # order: toPandas returns partitions in order, so the sums
            # repeat exactly for a fixed partitioning
            np.add.at(hist, (sub["feature"].to_numpy(), sub["bin"].to_numpy()), sub["sr"].to_numpy())
            np.add.at(counts, (sub["feature"].to_numpy(), sub["bin"].to_numpy()), sub["cnt"].to_numpy())
            models[m].append(_best_stump(hist, counts, lr))
    fit_in.unpersist()
    return {
        m: [(f, float(edges[f, b]), vl, vr) for f, b, vl, vr in st] for m, st in models.items()
    }


def stump_frame(spark: SparkSession, models: dict[int, list]) -> DataFrame:
    """(fold, feature[], thr[], vl[], vr[]) — the broadcastable model."""
    rows = [
        (
            int(m),
            [int(s[0]) for s in st],
            [float(s[1]) for s in st],
            [float(s[2]) for s in st],
            [float(s[3]) for s in st],
        )
        for m, st in models.items()
    ]
    return spark.createDataFrame(
        rows, "fold int, s_f array<int>, s_thr array<double>, s_vl array<double>, s_vr array<double>"
    )


def with_gbt_prediction(df: DataFrame, stumps: DataFrame) -> DataFrame:
    """Broadcast-join the stump arrays and score as ONE fused JVM
    expression: pred = Σ_t if(x[f_t] ≤ thr_t, vl_t, vr_t) via
    aggregate(sequence) — tree inference without Python in the path."""
    out = df.join(F.broadcast(stumps), "fold")
    t = F.sequence(F.lit(0), F.size("s_f") - 1)
    pred = F.aggregate(
        t,
        F.lit(0.0),
        lambda acc, i: acc
        + F.when(
            F.element_at("features", F.element_at("s_f", i + 1) + 1)
            <= F.element_at("s_thr", i + 1),
            F.element_at("s_vl", i + 1),
        ).otherwise(F.element_at("s_vr", i + 1)),
    )
    return out.withColumn("pred", pred).drop("s_f", "s_thr", "s_vl", "s_vr")


# ------------------------------------------------------------- predict

def coef_frame(spark: SparkSession, models: dict[int, np.ndarray], key: str = "fold") -> DataFrame:
    """Small (key, intercept, weights array) frame for broadcast join."""
    rows = [(int(g), float(c[0]), [float(w) for w in c[1:]]) for g, c in models.items()]
    return spark.createDataFrame(rows, f"{key} int, intercept double, weights array<double>")


def dot_expr(features: Column, weights: Column) -> Column:
    return F.aggregate(
        F.zip_with(features, weights, lambda x, w: x * w), F.lit(0.0), lambda a, x: a + x
    )


def with_prediction(df: DataFrame, coefs: DataFrame, key: str = "fold") -> Column:
    """Join fold coefficients (broadcast) and add `pred` — scoring stays
    entirely JVM-side."""
    out = df.join(F.broadcast(coefs), key)
    return out.withColumn(
        "pred", F.col("intercept") + dot_expr(F.col("features"), F.col("weights"))
    ).drop("intercept", "weights")


# ------------------------------------------------------------- scoring

def score_by_group(
    scored: DataFrame, group: list[str], era: str = "era", key: str = "vec_id"
) -> DataFrame:
    """Per-group (M1 era-Spearman, M2 quartic) from (y, pred) rows —
    the reference's fit_predict result pair (metrics.py:34-42)."""
    w = Window.partitionBy(*group, era).orderBy(F.asc("pred"), F.asc(key))
    cnt = Window.partitionBy(*group, era)
    ranked = scored.withColumn(
        "pred_rank",
        F.row_number().over(w).cast("double") / F.count("*").over(cnt).cast("double"),
    )
    return ranked.groupBy(*group).agg(
        F.round(corr_safe("y", "pred_rank"), 6).alias("spearman"),
        F.round(F.avg(F.pow(F.col("y") - F.col("pred"), 4)), 6).alias("quartic"),
    )


def logistic_irls(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    iters: int = 6,
    lam: float = 1e-6,
    ridge: float = 0.0,
    clip_logit: float | None = None,
) -> np.ndarray:
    """Distributed logistic regression by IRLS/Newton.

    Per iteration: broadcast the (d+1)-vector β, ONE mapInPandas pass
    computes per-partition partial [Hessian | gradient | n] (numpy
    batch math — X'WX with W = p(1-p), X'(y-p)), partials merge by
    array addition exactly like :func:`fold_suffstats`, and the driver
    solves the (d+1)×(d+1) Newton step. Driver state: β only. The
    classification twin of the suffstats ridge — same shuffle shape
    (a handful of array rows per pass), iterated because the logistic
    MLE has no closed form.

    ``ridge`` adds an L2 penalty to BOTH gradient and Hessian (a real
    regularizer — keeps β bounded when classes are linearly separable,
    where the unpenalized MLE diverges); the intercept is exempt from
    the penalty, per standard L2-logistic convention. ``lam`` stays
    the tiny solve-jitter it always was. ``clip_logit`` clamps Xβ before the
    sigmoid so exp() cannot overflow once separation drives logits
    large — callers recomputing scores (cls2's numpy parity) must clamp
    identically."""
    d1 = len(feature_cols) + 1
    width = d1 * d1 + d1 + 1
    sc = df.sparkSession.sparkContext
    beta = np.zeros(d1)
    for _ in range(iters):
        bb = sc.broadcast(beta)

        def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            H = np.zeros((d1, d1))
            g = np.zeros(d1)
            n = 0.0
            b = bb.value
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.column_stack(
                    [np.ones(len(pdf))]
                    + [pdf[c].to_numpy(dtype=float) for c in feature_cols]
                )
                y = pdf[label_col].to_numpy(dtype=float)
                z = X @ b
                if clip_logit is not None:
                    z = np.clip(z, -clip_logit, clip_logit)
                p = 1.0 / (1.0 + np.exp(-z))
                w = p * (1.0 - p)
                H += X.T @ (X * w[:, None])
                g += X.T @ (y - p)
                n += len(pdf)
            yield pd.DataFrame({"vals": [np.concatenate([H.ravel(), g, [n]])]})

        rows = df.mapInPandas(mapper, schema="vals array<double>")
        zero = F.array_repeat(F.lit(0.0), width)
        merged = rows.agg(
            F.aggregate(
                F.collect_list("vals"),
                zero,
                lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b),
            ).alias("vals")
        ).collect()[0]["vals"]
        flat = np.asarray(merged)
        H = flat[: d1 * d1].reshape(d1, d1)
        g = flat[d1 * d1 : -1]
        if ridge:
            # Standard L2-logistic: penalize the weights, NOT the
            # intercept (column 0 of the bias-augmented design) — a
            # penalized intercept biases the fitted base rate toward
            # p=0.5 on imbalanced data.
            R = ridge * np.eye(d1)
            R[0, 0] = 0.0
            H = H + R
            g = g - R @ beta
        beta = beta + np.linalg.solve(H + lam * np.eye(d1), g)
    return beta
