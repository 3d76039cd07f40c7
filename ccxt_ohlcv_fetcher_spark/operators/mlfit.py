"""Distributed generalized-linear fitting by aggregation: logistic
regression via iteratively reweighted least squares (IRLS / Newton).

Completes the in-engine ML family (k-means in plans/llm.py, PageRank in
plans/analytics.py, OLS in plans/breadth.py) with the CLASSIFIER class
every training-data pipeline eventually needs (quality scoring, filter
models): each Newton iteration is ONE aggregation job producing the
p-weighted normal equations — sufficient statistics, exactly like the
OLS query — and a driver-side 3x3 solve. No collect of data, no UDF,
no per-row Python; the table can be 100 TB and an iteration still
shuffles only (features+1)^2 numbers per partition. The complete-case
feature projection is persisted ONCE before the loop (narrow double
columns, MEMORY_AND_DISK), so iterations aggregate cached blocks
instead of re-running the source scan — at 100 TB each Newton step
would otherwise rescan the table.

Determinism: every per-row term is cast to DECIMAL(38,12) before SUM,
so the partial/final aggregation is associative and the fitted
coefficients are bit-identical run to run (a raw double sum varies in
the last bits with partitioning, which would make the registered
query's output flap). Scale 12 over precision 38 (range ~1e26) is the
working point of a real trade: at the old DECIMAL(28,14) (range
~1e14) a large-magnitude feature — a unix-timestamp column, a clamped
poisson mu — made w*x_i*x_j overflow the per-row CAST to NULL, which
F.sum silently skipped while count() kept the row (the
inconsistent-row-set bug _finite_rows exists to prevent); and scale
COARSER than ~1e-12 floors the final Newton deltas at the rounding
step so the fit reports converged=False at max_iter (measured at
scale 9 against the 1e-9 tolerance). Range 1e26 is wide, not
unbounded: per-row terms up to ~1e18 (timestamp-squared) fit, but the
SUM accumulator can still saturate on enough such rows — any NULL
statistic now raises a loud "standardize your features" ValueError
instead of solving a garbage system. Standardizing large-magnitude
features remains the statistically right call anyway (conditioning of
the normal equations). The sigmoid/log terms themselves are plain IEEE
libm calls evaluated per row — identical within an engine, pinned
against an independent numpy IRLS to 1e-6 in tests/test_mlfit.py.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ccxt_ohlcv_fetcher_spark.session import scoped_conf

# IRLS iteration loops run with AQE off. Every Newton step is one
# single-stage aggregation collapsing to a 1-row result — there is
# nothing for adaptive re-optimization to improve, but its per-job
# re-planning latency is paid on every step (r12 measured solo at
# sf0.1: 20 iterations on the cached 3-column frame 7.4 s with AQE vs
# 4.8 s without; values are identical either way — AQE never changes
# results).
_IRLS_CONF = {"spark.sql.adaptive.enabled": "false"}


def _collect_stats(df: DataFrame, aggs: list, who: str):
    """Run one sufficient-statistic aggregation and normalize the two
    overflow surfaces into ONE loud, actionable error: under ANSI mode
    (the Spark 4 default) a per-row cast or decimal-sum overflow raises
    ArithmeticException mid-job; under non-ANSI it yields NULL
    statistics (caught by the callers' None-guards). Either way the
    caller's user sees 'standardize your features', never a garbage
    solve, a bare TypeError, or a raw SQLSTATE traceback."""
    try:
        return df.agg(*aggs).collect()[0]
    except Exception as e:  # pyspark wraps the JVM ArithmeticException
        msg = str(e)
        if "ARITHMETIC_OVERFLOW" in msg or "Overflow in sum" in msg or (
            "NUMERIC_VALUE_OUT_OF_RANGE" in msg
        ) or "CAST_OVERFLOW" in msg:
            raise ValueError(
                f"{who}: sufficient-statistic overflow (a term or sum "
                "exceeded DECIMAL(38,12) range) — standardize or "
                "rescale large-magnitude features before fitting"
            ) from None
        raise


def _finite_rows(df: DataFrame, cols: list[str]) -> DataFrame:
    """Drop rows where any model column is NULL or non-finite. Without
    this, a null feature (e.g. ln(0) from an empty document) is skipped
    by the sums it appears in but NOT by count()/s00, so the normal
    equations describe two different row sets and the fit is silently
    wrong. Filtering is the GLM-standard complete-case treatment, done
    once up front so every sufficient statistic sees the same rows."""
    cond = None
    for c in cols:
        d = F.col(c).cast("double")
        ok = d.isNotNull() & ~F.isnan(d) & (F.abs(d) != float("inf"))
        cond = ok if cond is None else (cond & ok)
    return df.filter(cond)


#: Abramowitz & Stegun 7.1.26 erf coefficients — the classic rational
#: approximation (max abs error 1.5e-7), used for the probit link
#: because Spark SQL ships no erf/normal-CDF builtin. The numpy pin in
#: tests/test_mlfit.py evaluates the SAME polynomial.
_ERF_P = 0.3275911
_ERF_A = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)


def _norm_cdf(z):
    """Standard normal CDF Phi(z) as a built-in-only Spark column
    (whole-stage-codegen friendly — no UDF): Phi(z) = (1+erf(z/sqrt2))/2
    with erf via Horner on the A&S 7.1.26 polynomial over |x|."""
    x = z * F.lit(0.7071067811865476)
    ax = F.abs(x)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(_ERF_P) * ax)
    poly = F.lit(_ERF_A[4])
    for c in reversed(_ERF_A[:4]):
        poly = poly * t + F.lit(c)
    erf_abs = F.lit(1.0) - poly * t * F.exp(-(ax * ax))
    erf = F.when(x < 0, -erf_abs).otherwise(erf_abs)
    return (F.lit(1.0) + erf) * F.lit(0.5)


def _solve3(a: list[list[float]], b: list[float]) -> list[float]:
    """Cramer's-rule solve for the 3x3 Newton system (driver-side,
    nanoseconds — the data never leaves the cluster)."""

    def det3(m):
        return (
            m[0][0] * (m[1][1] * m[2][2] - m[1][2] * m[2][1])
            - m[0][1] * (m[1][0] * m[2][2] - m[1][2] * m[2][0])
            + m[0][2] * (m[1][0] * m[2][1] - m[1][1] * m[2][0])
        )

    d = det3(a)
    out = []
    for i in range(3):
        m = [row[:] for row in a]
        for r in range(3):
            m[r][i] = b[r]
        out.append(det3(m) / d)
    return out


def logistic_irls(
    df: DataFrame,
    label_col: str,
    feature_cols: list[str],
    max_iter: int = 25,
    tol: float = 1e-9,
    ridge: float = 1e-6,
) -> dict:
    """Fit P(label=1) = sigmoid(b0 + b1*x1 + b2*x2) by Newton-Raphson.

    Exactly two features (3x3 system) — the shape the in-SQL Cramer
    solve keeps readable; the sufficient-statistic pattern extends to
    any width with a driver-side numpy solve. Returns
    {beta, n_iter, converged, log_lik, n}."""
    if len(feature_cols) != 2:
        raise ValueError("logistic_irls fits exactly 2 features + intercept")
    # Each Newton step is ONE aggregation job; without a cache every
    # iteration re-runs the scan + feature-projection subtree under it
    # (column-pruned, but at 100 TB that is a full table rescan per
    # iteration). Persist the complete-case 3-column double frame once —
    # it is the narrowest possible input, independent of source width —
    # and let every step aggregate the cached blocks. MEMORY_AND_DISK
    # so an oversized feature frame spills instead of thrashing;
    # recompute-on-eviction keeps it correct either way. Numerically
    # identical: cast(double) is idempotent, so pre-casting once
    # changes no per-row value.
    x1, x2 = feature_cols
    feat = _finite_rows(df, [label_col, *feature_cols]).select(
        F.col(label_col).cast("double").alias("_y"),
        F.col(x1).cast("double").alias("_x1"),
        F.col(x2).cast("double").alias("_x2"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    y = F.col("_y")
    beta = [0.0, 0.0, 0.0]
    dsum = lambda c: F.sum(c.cast("decimal(38,12)")).cast(  # noqa: E731
        "double"
    )
    n_iter, converged, log_lik, n_rows = 0, False, float("nan"), 0
    try:
      with scoped_conf(df.sparkSession, _IRLS_CONF):
        for n_iter in range(1, max_iter + 1):
            z = (
                F.lit(beta[0])
                + F.lit(beta[1]) * F.col("_x1")
                + F.lit(beta[2]) * F.col("_x2")
            )
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
            w = p * (F.lit(1.0) - p)
            r = y - p
            xs = [F.lit(1.0), F.col("_x1"), F.col("_x2")]
            aggs = []
            for i in range(3):
                for j in range(i, 3):
                    aggs.append(dsum(w * xs[i] * xs[j]).alias(f"s{i}{j}"))
            for i in range(3):
                aggs.append(dsum(r * xs[i]).alias(f"g{i}"))
            aggs.append(
                dsum(
                    y * F.log(F.greatest(p, F.lit(1e-300)))
                    + (F.lit(1.0) - y)
                    * F.log(F.greatest(F.lit(1.0) - p, F.lit(1e-300)))
                ).alias("ll")
            )
            aggs.append(F.count(F.lit(1)).alias("n"))
            row = _collect_stats(feat, aggs, "logistic_irls")
            if not row["n"]:
                raise ValueError("logistic_irls: no finite-featured rows")
            if any(row[f] is None for f in row.asDict() if f != "n"):
                raise ValueError(
                    "logistic_irls: sufficient-statistic overflow (a sum "
                    "exceeded DECIMAL(38,12) range) — standardize or "
                    "rescale large-magnitude features before fitting"
                )
            a = [[0.0] * 3 for _ in range(3)]
            for i in range(3):
                for j in range(i, 3):
                    a[i][j] = a[j][i] = row[f"s{i}{j}"]
                a[i][i] += ridge
            delta = _solve3(a, [row[f"g{i}"] for i in range(3)])
            beta = [b + d for b, d in zip(beta, delta)]
            log_lik, n_rows = row["ll"], row["n"]
            if max(abs(d) for d in delta) < tol:
                converged = True
                break
    finally:
        feat.unpersist(blocking=False)
    return {
        "beta": beta,
        "n_iter": n_iter,
        "converged": converged,
        "log_lik": log_lik,
        "n": n_rows,
    }


def doc_lang_features(docs: DataFrame) -> DataFrame:
    """The feature/label projection shared by the registered query and
    the numpy pin: y = (lang = 'en'), x1 = ln(n_chars), x2 = mean token
    length over single-space tokenization."""
    return docs.select(
        (F.col("lang") == "en").cast("int").alias("y"),
        F.log(F.col("n_chars").cast("double")).alias("x1"),
        (
            F.length("text").cast("double")
            / F.size(F.split(F.col("text"), " "))
        ).alias("x2"),
    )


def fit_glm(
    df: DataFrame,
    label_col: str,
    feature_cols: list[str],
    family: str = "gaussian",
    max_iter: int = 25,
    tol: float = 1e-9,
    ridge: float = 1e-6,
) -> dict:
    """Width-general GLM fit by sufficient-statistic aggregation:
    ``gaussian`` (identity link — one pass, the OLS normal equations),
    ``binomial`` (logit link), ``poisson`` (log link) or ``probit``
    (normal-CDF link) — the last three via IRLS/Fisher scoring, one
    aggregation per Newton step. Any feature width: the driver solves
    a (k+1)x(k+1) system with numpy per step while the cluster only
    ever shuffles O(k^2) numbers per partition — the same shape at 2
    features or 200, at 1 GB or 100 TB.

    Probit uses the Abramowitz & Stegun 7.1.26 rational erf
    approximation for the normal CDF (Spark ships no erf builtin; max
    abs error 1.5e-7 in Phi). tests/test_mlfit.py pins the distributed
    fit against a numpy IRLS using the SAME formula, so the pin
    certifies the aggregation, and the approximation itself is the
    documented contract.

    Same determinism contract as :func:`logistic_irls`: every per-row
    term is summed as DECIMAL(38,12), so coefficients are
    bit-identical across partitionings. Returns
    {beta, n_iter, converged, n} (gaussian: n_iter=1, converged=True).
    """
    import numpy as np

    if family not in ("gaussian", "binomial", "poisson", "probit"):
        raise ValueError(f"unsupported family {family!r}")
    k = len(feature_cols) + 1
    # Same caching rationale as logistic_irls: project the complete-case
    # frame to (label + k-1 features) doubles ONCE so the per-iteration
    # aggregation reads cached narrow blocks, not the source scan.
    # Gaussian is a single pass, so it skips the persist (a cache write
    # it would never read back).
    feat = _finite_rows(df, [label_col, *feature_cols]).select(
        F.col(label_col).cast("double").alias("_y"),
        *[
            F.col(c).cast("double").alias(f"_f{i}")
            for i, c in enumerate(feature_cols)
        ],
    )
    y = F.col("_y")
    xs = [F.lit(1.0)] + [
        F.col(f"_f{i}") for i in range(len(feature_cols))
    ]
    # DECIMAL(38,12) for EVERY family (see module docstring): the
    # overflow bound of w*x_i*x_j and r*x_i is feature-magnitude-
    # dependent, not family-dependent — a timestamp-scale gaussian
    # feature overflows (28,14) exactly like a clamped poisson mu.
    dsum = lambda c: F.sum(c.cast("decimal(38,12)")).cast("double")  # noqa: E731

    def newton_stats(w, r):
        aggs = []
        for i in range(k):
            for j in range(i, k):
                aggs.append(dsum(w * xs[i] * xs[j]).alias(f"s{i}{j}"))
        for i in range(k):
            aggs.append(dsum(r * xs[i]).alias(f"g{i}"))
        aggs.append(F.count(F.lit(1)).alias("n"))
        row = _collect_stats(feat, aggs, "fit_glm")
        if not row["n"]:
            raise ValueError("fit_glm: no finite-featured rows")
        if any(row[f] is None for f in row.asDict() if f != "n"):
            # a NULL statistic means a per-row term or the accumulator
            # exceeded DECIMAL(38,12) range (~1e26) — e.g. raw
            # timestamp-scale features over tens of millions of rows.
            # Fail LOUD with the remedy instead of solving a garbage
            # system (or crashing in numpy with a bare TypeError).
            raise ValueError(
                "fit_glm: sufficient-statistic overflow (a sum "
                "exceeded DECIMAL(38,12) range) — standardize or "
                "rescale large-magnitude features before fitting"
            )
        a = np.zeros((k, k))
        for i in range(k):
            for j in range(i, k):
                a[i, j] = a[j, i] = row[f"s{i}{j}"]
        a += ridge * np.eye(k)
        g = np.array([row[f"g{i}"] for i in range(k)])
        return a, g, row["n"]

    if family == "gaussian":
        a, g, n = newton_stats(F.lit(1.0), y)
        beta = np.linalg.solve(a, g)
        return {
            "beta": [float(b) for b in beta],
            "n_iter": 1,
            "converged": True,
            "n": n,
        }
    beta = np.zeros(k)
    feat = feat.persist(StorageLevel.MEMORY_AND_DISK)
    try:
      with scoped_conf(df.sparkSession, _IRLS_CONF):
        if family == "poisson":
            # standard GLM warm start: intercept-only model, b0 = ln(ybar)
            # (one extra decimal-sum agg, saves ~half the Newton steps —
            # each step is a full aggregation job, so this is a net win;
            # it also populates the feature cache for the loop).
            # The pin in tests/test_mlfit.py uses the same start.
            r0 = _collect_stats(
                feat, [dsum(y).alias("sy"), F.count(F.lit(1)).alias("n")],
                "fit_glm",
            )
            if not r0["n"]:
                raise ValueError("fit_glm: no finite-featured rows")
            if r0["sy"] is None:  # same saturation contract as newton_stats
                raise ValueError(
                    "fit_glm: sufficient-statistic overflow (a sum "
                    "exceeded DECIMAL(38,12) range) — standardize or "
                    "rescale large-magnitude features before fitting"
                )
            beta[0] = float(np.log(max(r0["sy"] / r0["n"], 1e-12)))
        n_iter, converged, n = 0, False, 0
        for n_iter in range(1, max_iter + 1):
            z = xs[0] * F.lit(float(beta[0]))
            for bi, xc in zip(beta[1:], xs[1:]):
                z = z + F.lit(float(bi)) * xc
            if family == "binomial":
                p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
                w, r = p * (F.lit(1.0) - p), y - p
            elif family == "poisson":
                # log link: mu = exp(z), Hessian weight = mu, score =
                # y-mu. z clamped at +-20 (mu <= 4.85e8) so a divergent
                # early step can't overflow the DECIMAL(38,12) per-row
                # terms even with features up to ~1e8 (mu*x*x <= 4.85e24
                # < 1e26) — the standard IRLS safeguard, sized to the
                # sum scale (at the previous +-30, a 1e7-magnitude
                # feature overflowed the cast to NULL and rows silently
                # left the sums). Converged fits sit far inside: a rate
                # of e^20 per observation is beyond any real count
                # model.
                mu = F.exp(
                    F.greatest(F.least(z, F.lit(20.0)), F.lit(-20.0))
                )
                w, r = mu, y - mu
            else:  # probit — Fisher scoring with the A&S 7.1.26 erf
                p = _norm_cdf(z)
                d = F.exp(z * z * F.lit(-0.5)) * F.lit(0.3989422804014327)
                v = F.greatest(p * (F.lit(1.0) - p), F.lit(1e-12))
                w, r = d * d / v, (y - p) * d / v
            a, g, n = newton_stats(w, r)
            delta = np.linalg.solve(a, g)
            beta = beta + delta
            if float(np.max(np.abs(delta))) < tol:
                converged = True
                break
    finally:
        feat.unpersist(blocking=False)
    return {
        "beta": [float(b) for b in beta],
        "n_iter": n_iter,
        "converged": converged,
        "n": n,
    }
