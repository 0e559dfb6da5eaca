"""DuckDB CTE replay of the fixed-point logistic-regression trainer.

The oracle re-runs operators/classifier.py's ENTIRE Newton/IRLS training
loop in SQL — every iteration is a sig block (logit → clamp/offset →
LUT segment → interpolated σ̃) plus a Newton block (the gradient and
Hessian sums, the cofactor solve and the clamped weight update),
chained ``iters`` times from w0 = 0 — so a hash match proves the
distributed trainer bit-exactly, not just the final scores (the
kmeans_sql.py discipline).

Integer-exactness notes mirrored from the operator:
- gradient sums ride DuckDB's automatic SUM(BIGINT) → HUGEINT (exact
  128-bit) ↔ Spark decimal(38,0);
- floor division of possibly-negative numerators uses the explicit
  ``(a − ((a % b) + b) % b) // b`` spelling (DuckDB ``//`` truncates
  toward zero, Python ``//`` floors; the residue-subtracted numerator
  is an exact multiple, where truncation and floor agree);
- the σ̃ LUT literals are generated by the same Python function that
  builds the Spark plan's literal array.
"""

from __future__ import annotations

from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.classifier import (
    CLAMP_W,
    N_NODES,
    NEWTON_RIDGE,
    PPM,
    SIG_CLAMP,
    SIG_STEP,
    cofactor_terms,
    sigmoid_lut,
)

_TOKS = (
    "list_filter(string_split_regex(lower(coalesce(text, '')), '[^a-z0-9]+'),"
    " t -> t <> '')"
)
_STOP = "('the','a','of','and','to','in','is','it','that','for')"
_W = ["w0", "w1", "w2", "w3", "w4"]
_X = ["f_bias", "f_len", "f_stop", "f_alnum", "f_tlen"]


def _fdiv(a: str, b: str) -> str:
    """Floor division, negative-safe, all-integer (see module doc)."""
    return f"((({a}) - ((({a}) % ({b})) + ({b})) % ({b})) // ({b}))"


def _feats_cte() -> str:
    # MATERIALIZED everywhere below: w_it{t} is referenced twice per
    # iteration (directly and through g{t} → p{t}), so default CTE
    # inlining expands the chain EXPONENTIALLY in iters; materializing
    # pins each single-row weight state (and the one corpus scan) to
    # one evaluation.
    return f"""feats AS MATERIALIZED (
  SELECT doc_id,
         CAST({PPM} AS BIGINT) AS f_bias,
         CAST(LEAST(n_tok * 12500, {PPM}) AS BIGINT) AS f_len,
         CAST(LEAST(8 * stop_ppm, {PPM}) AS BIGINT) AS f_stop,
         CAST(CASE WHEN n_char > 0 THEN ({PPM} * tok_chars) // n_char
                   ELSE 0 END AS BIGINT) AS f_alnum,
         CAST(CASE WHEN n_tok > 0
                   THEN LEAST(({PPM} * tok_chars) // (8 * n_tok), {PPM})
                   ELSE 0 END AS BIGINT) AS f_tlen,
         CAST(CASE WHEN n_tok >= 40 AND stop_ppm >= 45000
                   THEN 1 ELSE 0 END AS INT) AS label,
         CAST(CASE WHEN n_tok >= 40 AND stop_ppm >= 45000
                   THEN {PPM} ELSE 0 END AS BIGINT) AS y_ppm
  FROM (
    SELECT doc_id, n_tok, n_char, tok_chars,
           CASE WHEN n_tok > 0 THEN ({PPM} * stop_hits) // n_tok
                ELSE 0 END AS stop_ppm
    FROM (
      SELECT doc_id,
             CAST(len({_TOKS}) AS BIGINT) AS n_tok,
             CAST(coalesce(length(text), 0) AS BIGINT) AS n_char,
             CAST(coalesce(
                 list_sum(list_transform({_TOKS}, t -> length(t))), 0)
               AS BIGINT) AS tok_chars,
             CAST(len(list_filter({_TOKS}, t -> t IN {_STOP}))
               AS BIGINT) AS stop_hits
      FROM documents)))"""


def _sig_block(t: int, w_cte: str) -> str:
    """The 4 per-row CTEs of one iteration: logit z from the w_cte
    weights, clamp+offset, LUT segment index, interpolated σ̃ ppm."""
    lut = "[" + ",".join(str(v) for v in sigmoid_lut()) + "]"
    dot = " + ".join(f"w.{wc} * f.{xc}" for wc, xc in zip(_W, _X))
    return f"""z{t} AS (
  SELECT f.*, {_fdiv(dot, str(PPM))} AS z
  FROM feats f CROSS JOIN {w_cte} w),
o{t} AS (
  SELECT *, LEAST(GREATEST(z, -{SIG_CLAMP}), {SIG_CLAMP}) + {SIG_CLAMP} AS off
  FROM z{t}),
i{t} AS (
  SELECT *, CAST(LEAST(off // {SIG_STEP}, {N_NODES - 2}) AS INT) AS si
  FROM o{t}),
p{t} AS (
  SELECT *, list_extract({lut}, si + 1)
            + ((off - si * {SIG_STEP})
               * (list_extract({lut}, si + 2) - list_extract({lut}, si + 1)))
              // {SIG_STEP} AS sig
  FROM i{t})"""


def _newton_block(t: int, ridge: int) -> str:
    """The per-iteration CTEs of the Newton trainer beyond the shared
    sig block: per-row IRLS weight hrow, the 20-sum aggregation, the
    n·PPM-scaled+ridged single-row system, and the 25 cofactors + det —
    every cofactor expression generated from the SAME
    ``cofactor_terms`` permutation expansion the driver solve uses
    (operators/classifier.py), so both engines expand the identical
    formula. Magnitudes (HUGEINT-safe): scaled entries ≤ 2.5e5+ridge,
    cofactor ≤ 24·(2.5e5)⁴ ≈ 9.4e22, PPM·numerator ≤ 4.7e35 < 2¹²⁷."""
    k_ = len(_X)
    grads = ", ".join(
        f"SUM({xc} * (sig - y_ppm)) AS g{j}" for j, xc in enumerate(_X)
    )
    hess = ", ".join(
        f"SUM((({_X[a]} * {_X[b]}) // {PPM}) * hrow) AS h{a}{b}"
        for a in range(k_)
        for b in range(a, k_)
    )
    nppm = f"(CAST(nn.n AS HUGEINT) * {PPM})"
    scaled_g = ", ".join(
        f"{_fdiv(f'g.g{j}', nppm)} AS g{j}" for j in range(k_)
    )
    # Hessian sums are non-negative: plain truncating // == floor here
    scaled_h = ", ".join(
        f"(g.h{a}{b} // {nppm})" + (f" + {ridge}" if a == b else "") + f" AS h{a}{b}"
        for a in range(k_)
        for b in range(a, k_)
    )
    cofs = []
    for j in range(k_):
        for kk in range(k_):
            terms = []
            for sign, cells in cofactor_terms(j, kk):
                prod = " * ".join(f"h{r}{c}" for r, c in cells)
                terms.append(f"{'+' if sign > 0 else '-'} CAST(1 AS HUGEINT) * {prod}")
            cofs.append(f"({' '.join(terms)}) AS c{j}{kk}")
    det = " + ".join(f"h0{kk} * c0{kk}" for kk in range(k_))
    return f"""q{t} AS (
  SELECT *, (CAST(sig AS BIGINT) * ({PPM} - sig)) // {PPM} AS hrow
  FROM p{t}),
g{t} AS MATERIALIZED (SELECT {grads}, {hess} FROM q{t}),
s{t} AS MATERIALIZED (SELECT {scaled_g}, {scaled_h} FROM g{t} g CROSS JOIN nn),
c{t} AS MATERIALIZED (
  SELECT *, {det} AS d
  FROM (SELECT *, {", ".join(cofs)} FROM s{t}))"""


def logreg_newton_ctes(
    iters: int, ridge: int = NEWTON_RIDGE, tol_micro: int | None = None
) -> tuple[str, str]:
    """(cte_sql, final_weights_cte_name) for the Newton/IRLS trainer
    (operators/classifier.py:train_logreg_newton): feats, n, w0 = 0,
    then ``iters`` chained sig + Newton blocks. The weight update is
    Δw_j = floor(PPM · Σ_k c{k}{j}·g_k / d), clamped — with the
    trainer's absorbing freeze CASE when ``tol_micro`` is set,
    and a d > 0 guard mirroring the driver's unreachable-with-ridge
    no-op branch."""
    parts = [
        _feats_cte(),
        "nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM feats)",
        "w_it0 AS MATERIALIZED (SELECT "
        + ", ".join(f"CAST(0 AS HUGEINT) AS {wc}" for wc in _W)
        + ")",
    ]
    k_ = len(_W)
    for t in range(iters):
        parts.append(_sig_block(t, f"w_it{t}"))
        parts.append(_newton_block(t, ridge))
        updates = []
        for j, wc in enumerate(_W):
            num = " + ".join(f"c.c{kk}{j} * c.g{kk}" for kk in range(k_))
            step = _fdiv(f"{PPM} * ({num})", "c.d")
            updates.append(
                f"GREATEST(LEAST(w.{wc} - (CASE WHEN c.d > 0 THEN {step} "
                f"ELSE 0 END), {CLAMP_W}), -{CLAMP_W}) AS n_{wc}"
            )
        upd = ", ".join(updates)
        if tol_micro is None:
            parts.append(
                f"w_it{t + 1} AS MATERIALIZED (SELECT "
                + ", ".join(f"n_{wc} AS {wc}" for wc in _W)
                + f" FROM (SELECT {upd} FROM w_it{t} w, c{t} c))"
            )
        else:
            olds = ", ".join(f"w.{wc} AS o_{wc}" for wc in _W)
            maxd = "GREATEST(" + ", ".join(
                f"ABS(n_{wc} - o_{wc})" for wc in _W
            ) + ")"
            frozen = ", ".join(
                f"CASE WHEN {maxd} <= {tol_micro} THEN o_{wc} "
                f"ELSE n_{wc} END AS {wc}"
                for wc in _W
            )
            parts.append(
                f"w_it{t + 1} AS MATERIALIZED (SELECT {frozen} FROM "
                f"(SELECT {olds}, {upd} FROM w_it{t} w, c{t} c))"
            )
    return ",\n".join(parts), f"w_it{iters}"


def oracle_classifier_quality_newton(
    iters: int = 6, ridge: int = NEWTON_RIDGE, tol_micro: int | None = None
) -> str:
    """Newton-trained per-document scores: (doc_id, label, score_ppm,
    pred), the final σ̃ evaluated with the it-``iters`` weights."""
    ctes, w_final = logreg_newton_ctes(iters, ridge, tol_micro)
    score_block = _sig_block(iters, w_final)
    return f"""WITH {ctes},
{score_block}
SELECT doc_id, label, CAST(sig AS BIGINT) AS score_ppm,
       CAST(CASE WHEN sig >= {PPM // 2} THEN 1 ELSE 0 END AS INT) AS pred
FROM p{iters}
ORDER BY doc_id"""

