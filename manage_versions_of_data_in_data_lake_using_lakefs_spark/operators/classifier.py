"""Model-based quality filtering: in-engine trained logistic regression.

The production corpus-curation pattern (CCNet, fastText quality filters,
FineWeb-edu): score every document with a TRAINED classifier instead of
a hand heuristic. The whole loop lives in the engine — feature
extraction is a map-only pass, each Newton/IRLS iteration is ONE
distributed aggregation of exact partial sums (``train_logreg_newton``),
and scoring is another map-only pass — so the same code trains on 500
rows or 100 TB (the per-iteration shuffle moves a fixed handful of
numbers per partition).

Engine-fit rules (the kmeans/PQ playbook, operators/clustering.py):

- **Fixed-point everywhere.** Features are ppm integers (×1e6 of the
  [0,1] real), weights are micro integers (×1e6), logits are micro. No
  float ever enters the training loop, so results are bit-identical at
  any partitioning AND replayable as DuckDB SQL CTEs (one CTE chain per
  iteration — queries/extensions.py builds it).
- **Sigmoid as an integer LUT.** σ(z) is transcendental; engines'
  ``exp`` need not agree to the last ulp. We precompute σ at 65 nodes
  (z = −8..8 step 0.25, ppm values, Python ``math.exp`` at build time)
  and interpolate linearly with integer arithmetic — the SAME literal
  table is inlined into the Spark plan and the SQL oracle, so both
  engines evaluate the identical piecewise-linear σ̃.
- **128-bit gradient sums.** Per-row gradient terms reach 1e12
  (x_ppm·diff_ppm); int64 would overflow near 1e7 rows, so partial sums
  accumulate in Spark ``decimal(38,0)`` / DuckDB ``HUGEINT`` — exact
  128-bit integers on both engines, headroom to ~1e26 rows.
- **Driver math is exact big-int.** Only k sums per iteration reach the
  driver; the weight update is Python arbitrary-precision floor
  division, mirrored in SQL by an explicit floor-division formula
  (DuckDB ``//`` truncates toward zero; Python ``//`` floors — the
  builder emits ``(a - ((a % b) + b) % b) / b`` so negatives agree).

Per-row logit (all integers): with features x ∈ [0, 1e6] ppm and
weights w micro, z_micro = floor(Σ_j w_j·x_j / 1e6). Weights clamp to
±CLAMP_W after every update, which keeps |Σ w·x| < 2^53 so the per-row
floor of the logit stays exact under either engine's arithmetic.
"""

from __future__ import annotations

import itertools
import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.text import STOPWORDS

PPM = 1_000_000
SIG_STEP = 250_000          # LUT node spacing: 0.25 in logit units
SIG_CLAMP = 8_000_000       # logits clamp to ±8 (σ outside ≈ 0/1e6)
CLAMP_W = 30_000_000        # |w_real| ≤ 30 keeps logits in exact-int range
N_NODES = 2 * SIG_CLAMP // SIG_STEP + 1  # 65


def sigmoid_lut() -> list[int]:
    """σ ppm at the 65 LUT nodes z = −8 … 8 step 0.25 — computed ONCE
    in Python and inlined as literals into both engines' plans, so the
    piecewise-linear σ̃ is identical by construction."""
    return [
        round(PPM / (1.0 + math.exp(-(-8.0 + 0.25 * i)))) for i in range(N_NODES)
    ]


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Integer ppm features + weak-supervision label per document.

    Features (all exact int64, map-only, the tokenize contract shared
    with the DuckDB oracles — each scaled so its decision-relevant range
    fills [0, 1e6]; GD on raw ratios that live in [0, 0.1] of the range
    crawls, measured on the fixture):
      f_bias  = 1e6
      f_len   = min(12500·n_tok, 1e6)        (saturates at 80 tokens;
                                              the 40-token label cut = 0.5)
      f_stop  = min(8e6·stop_hits // n_tok, 1e6)  (8× stopword ratio;
                                              the 4.5% label cut = 0.36)
      f_alnum = 1e6·tok_chars // n_char      (token-char density)
      f_tlen  = min(1e6·tok_chars // (8·n_tok), 1e6)  (mean tok len / 8)

    Label (the heuristic the classifier distills — the standard
    weak-supervision bootstrap when no human labels exist):
      y = 1 iff n_tok ≥ 40 AND stopword ratio ≥ 4.5%   (≈ balanced on
      the documents fixture)

    Counts are regex passes, not token arrays (r12): tokens are maximal
    ``[a-z0-9]+`` runs of the lowered text (the tokenize contract,
    operators/text.py:31), so ``regexp_count`` of that class equals the
    array length, the alnum-stripped string length equals the summed
    token lengths, and a run equals a stopword iff the stopword occurs
    NOT adjacent to ``[a-z0-9]`` on either side (lookarounds) — value-
    identical to the array build (asserted over the fixture corpus) at
    ~5× the throughput: three scalar regex passes per row instead of
    per-token higher-order lambda evaluation."""
    low = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    n_tok = F.regexp_count(low, F.lit("[a-z0-9]+")).cast("long")
    n_char = F.coalesce(F.length(text_col), F.lit(0)).cast("long")
    tok_chars = F.length(F.regexp_replace(low, "[^a-z0-9]", "")).cast("long")
    stop_re = (
        "(?<![a-z0-9])(?:" + "|".join(STOPWORDS["en"]) + ")(?![a-z0-9])"
    )
    stop_hits = F.regexp_count(low, F.lit(stop_re)).cast("long")
    # all numerators/denominators non-negative: floor == truncate on both
    # engines, and double-division floors are exact below 2^53
    stop_ppm = F.when(n_tok > 0, F.floor((stop_hits * PPM) / n_tok)).otherwise(
        F.lit(0)
    )
    f_stop = F.least(stop_ppm * 8, F.lit(PPM).cast("long"))
    f_alnum = F.when(n_char > 0, F.floor((tok_chars * PPM) / n_char)).otherwise(
        F.lit(0)
    )
    f_tlen = F.when(
        n_tok > 0, F.least(F.floor((tok_chars * PPM) / (n_tok * 8)), F.lit(PPM))
    ).otherwise(F.lit(0))
    label = F.when((n_tok >= 40) & (stop_ppm >= 45_000), F.lit(1)).otherwise(F.lit(0))
    return (
        df.withColumn("f_bias", F.lit(PPM).cast("long"))
        .withColumn("f_len", F.least(n_tok * 12_500, F.lit(PPM).cast("long")).cast("long"))
        .withColumn("f_stop", f_stop.cast("long"))
        .withColumn("f_alnum", f_alnum.cast("long"))
        .withColumn("f_tlen", f_tlen.cast("long"))
        .withColumn("label", label.cast("int"))
    )


FEATURE_COLS = ["f_bias", "f_len", "f_stop", "f_alnum", "f_tlen"]


def sigmoid_lut_array() -> Column:
    """The σ̃ LUT as a Spark array Column. r14 hoisted construction out
    of the iteration loop; r15 makes each construction ONE parsed
    ``F.expr`` string (the minhash r14 pattern) instead of ~130 py4j
    round-trips of ``F.array(lit(v).cast(...))`` — measured 0.36 s per
    call, and scoring builds its own copy. ``123L`` literals parse
    straight to BIGINT, so the tree constant-folds to the identical
    array<bigint> the Column spelling produced."""
    return F.expr("array(" + ",".join(f"{v}L" for v in sigmoid_lut()) + ")")


def sigmoid_ppm(z_micro: Column, lut_arr: Column | None = None) -> Column:
    """Piecewise-linear integer σ̃: clamp the micro logit to ±SIG_CLAMP,
    locate its LUT segment, interpolate in exact int arithmetic. All
    intermediate quantities are non-negative, so the floor divisions
    agree across engines. ``lut_arr`` lets iteration loops reuse one
    prebuilt LUT array Column (identical tree, cheaper construction)."""
    arr = lut_arr if lut_arr is not None else sigmoid_lut_array()
    zc = F.least(F.greatest(z_micro, F.lit(-SIG_CLAMP)), F.lit(SIG_CLAMP))
    off = zc + F.lit(SIG_CLAMP)  # 0 … 2·SIG_CLAMP
    i = F.least(F.floor(off / SIG_STEP), F.lit(N_NODES - 2)).cast("int")
    frac = off - i.cast("long") * SIG_STEP
    lo = F.element_at(arr, i + 1)
    hi = F.element_at(arr, i + 2)
    return lo + F.floor((frac * (hi - lo)) / SIG_STEP).cast("long")


def _logit_micro(w: list[int]) -> Column:
    acc = None
    for wj, col in zip(w, FEATURE_COLS):
        term = F.lit(int(wj)).cast("long") * F.col(col)
        acc = term if acc is None else acc + term
    # |Σ w·x| ≤ 5·CLAMP_W·1e6 = 1.5e14 < 2^53 → the double-division
    # floor is exact (margin analysis in the module docstring)
    return F.floor(acc / F.lit(PPM)).cast("long")


NEWTON_RIDGE = 1000  # scaled-Hessian units (entries ≤ ~2.5e5): ~0.4% of
# the max diagonal — dominates the ≤ ~1-unit flooring perturbation that
# could otherwise push a semidefinite direction negative, negligible bias


def _perm_sign(perm: tuple[int, ...]) -> int:
    s = 1
    for i in range(len(perm)):
        for j in range(i + 1, len(perm)):
            if perm[i] > perm[j]:
                s = -s
    return s


def cofactor_terms(j: int, k: int) -> list[tuple[int, list[tuple[int, int]]]]:
    """Signed permutation expansion of cofactor C[j][k] of a 5×5
    symmetric matrix: 24 terms of (sign, [(r,c)×4]) with r ≤ c
    canonicalised. SHARED by the driver's exact big-int Newton solve and
    the SQL oracle's generated expressions (queries/logreg_sql.py), so
    both engines expand the bit-identical formula by construction."""
    rows_ = [a for a in range(5) if a != j]
    cols_ = [b for b in range(5) if b != k]
    base = 1 if (j + k) % 2 == 0 else -1
    out = []
    for perm in itertools.permutations(range(4)):
        cells = [
            (min(rows_[i], cols_[perm[i]]), max(rows_[i], cols_[perm[i]]))
            for i in range(4)
        ]
        out.append((base * _perm_sign(perm), cells))
    return out


def _newton_solve(
    n: int, g: list[int], h: dict[tuple[int, int], int], ridge: int
) -> list[int]:
    """Exact big-int damped-Newton step Δw (micro) from the raw 128-bit
    sums: scale g and H down by n·PPM (≈ per-row ppm averages, entries
    ≤ 2.5e5 — chosen so the adjugate solve fits HUGEINT on the oracle
    side: cofactor ≤ 24·(2.5e5)⁴ ≈ 9.4e22, numerator·PPM ≤ 4.7e35 <
    2¹²⁷), ridge the diagonal, then Cramer via the adjugate:
    Δw_j = floor(PPM · Σ_k C[k][j]·g'_k  /  det)."""
    k_ = len(FEATURE_COLS)
    gp = [g[j] // (n * PPM) for j in range(k_)]
    hp = {
        (a, b): h[(a, b)] // (n * PPM) + (ridge if a == b else 0)
        for a in range(k_)
        for b in range(a, k_)
    }
    cof = [[0] * k_ for _ in range(k_)]
    for j in range(k_):
        for kk in range(k_):
            tot = 0
            for sign, cells in cofactor_terms(j, kk):
                t = sign
                for cell in cells:
                    t *= hp[cell]
                tot += t
            cof[j][kk] = tot
    det = sum(hp[(0, kk)] * cof[0][kk] for kk in range(k_))
    if det <= 0:  # unreachable with the ridge (see margin note above);
        return [0] * k_  # loud-enough no-op rather than a wrong direction
    out = []
    for j in range(k_):
        num = PPM * sum(cof[kk][j] * gp[kk] for kk in range(k_))
        out.append(num // det)  # Python floor; SQL mirrors with _fdiv
    return out


def train_logreg_newton(
    feats: DataFrame,
    iters: int = 6,
    ridge: int = NEWTON_RIDGE,
    tol_micro: int | None = None,
    return_iters: bool = False,
) -> list[int] | tuple[list[int], int]:
    """Full Newton / IRLS over a ``quality_features`` frame → final
    micro weights (VERDICT r11 #2: replaces 24 fixed-step GD passes
    with ~4-6 second-order ones — measured on the fixture, Newton-6
    reaches log-loss 0.343 where GD-24 stalls at 0.489).

    Each iteration is STILL one distributed aggregation — now of 20
    exact 128-bit sums (5 gradient + 15 upper-triangle Hessian entries,
    ``H_jk = Σ floor(x_j·x_k/PPM)·floor(σ̃(PPM−σ̃)/PPM)``) — and the
    5×5 solve is exact big-int adjugate/Cramer on the driver
    (``_newton_solve``), so the trainer is fixed-point throughout:
    bit-identical at any partitioning and replayable as DuckDB CTEs (queries/logreg_sql.py generates the SAME
    cofactor expansion via ``cofactor_terms``). ``tol_micro`` freezes
    the weights at the first iteration whose max |Δw| ≤ tol; freezing is
    absorbing (unchanged weights recompute the identical below-tol
    step), so a SQL replay of all ``iters`` iterations with the same
    freeze CASE lands on bit-identical weights."""
    k_ = len(FEATURE_COLS)
    n: int | None = None
    w = [0] * k_
    y_ppm = F.col("label").cast("long") * PPM
    # Everything except the 5 weight literals is iteration-invariant, so
    # build it ONCE (r14): expression construction was ~0.5 s of each
    # iteration's ~0.85 s wall — the LUT array alone is ~130 py4j
    # round-trips — and Column objects are unbound trees, safe to reuse
    # across the per-iteration DataFrames. Plans are unchanged.
    lut_arr = sigmoid_lut_array()
    sig = F.col("_sig")
    proj2_cols = [
        *FEATURE_COLS,
        (sig - F.col("_y")).alias("_d"),
        # σ̃(PPM−σ̃) ≤ 2.5e11 and x_j·x_k ≤ 1e12: both fit long
        # before the floor; the per-row Hessian term ≤ 2.5e11 rides
        # the same decimal(38,0) partial sums as the gradient
        F.floor((sig * (F.lit(PPM) - sig)) / PPM).cast("long").alias("_h"),
    ]
    aggs = [
        F.sum((F.col(c) * F.col("_d")).cast("decimal(38,0)")).alias(f"g{j}")
        for j, c in enumerate(FEATURE_COLS)
    ]
    for a in range(k_):
        for b in range(a, k_):
            term = (
                F.floor((F.col(FEATURE_COLS[a]) * F.col(FEATURE_COLS[b])) / PPM)
                * F.col("_h")
            )
            aggs.append(F.sum(term.cast("decimal(38,0)")).alias(f"h{a}{b}"))
    it = 0
    for it in range(iters):
        # project σ̃ ONCE as a named column before aggregating: the LUT
        # expression tree is ~70 nodes, and referencing the raw Column
        # in all 20 aggregate expressions would clone it into each one
        # (measured: ~1.9 s/iteration of plan+codegen at sf0.1 vs ~0.2 s
        # with the projection — the aliased column is evaluated once)
        proj = feats.select(
            *FEATURE_COLS,
            sigmoid_ppm(_logit_micro(w), lut_arr).alias("_sig"),
            y_ppm.alias("_y"),
        ).select(*proj2_cols)
        it_aggs = aggs + [F.count(F.lit(1)).alias("_n")] if n is None else aggs
        row = proj.select(*it_aggs).collect()[0]
        if n is None:
            n = int(row["_n"])
            if n == 0:
                return ([0] * k_, 0) if return_iters else [0] * k_
        g = [int(row[f"g{j}"]) for j in range(k_)]
        h = {
            (a, b): int(row[f"h{a}{b}"])
            for a in range(k_)
            for b in range(a, k_)
        }
        dw = _newton_solve(n, g, h, ridge)
        new_w = [
            max(-CLAMP_W, min(CLAMP_W, wj - dw[j])) for j, wj in enumerate(w)
        ]
        if tol_micro is not None and max(
            abs(a - b) for a, b in zip(new_w, w)
        ) <= tol_micro:
            it += 1
            break  # frozen: absorbing (see the docstring)
        w = new_w
    else:
        it = iters
    return (w, it) if return_iters else w


def score_logreg(feats: DataFrame, w: list[int]) -> DataFrame:
    """Map-only scoring pass: σ̃ ppm of the trained logit + the 0/1
    prediction at the 0.5 boundary."""
    score = sigmoid_ppm(_logit_micro(w))
    return feats.withColumn("score_ppm", score).withColumn(
        "pred", (score >= PPM // 2).cast("int")
    )
