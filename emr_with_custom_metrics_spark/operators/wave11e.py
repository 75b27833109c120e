"""Round-11 wave 11e: sequential testing, absorption dynamics, and
heavy-tail / lexical-spectrum statistics.

* ``stats_sprt_sequential`` — Wald's SPRT over each metric's event
  stream: the always-valid sequential decision the fixed-n t-test
  family cannot give. The log-likelihood walk is an EXACT integer
  process (pinned e9 log constants, symmetric +-L steps).
* ``events_markov_absorption`` — expected steps to the purchase state
  from every state of the user-journey chain, by 40 rounds of exact
  value iteration over the (k x k) transition counts (purchase made
  absorbing) — the "how far is each behavior from converting" readout
  on top of events_transition_matrix.
* ``text_yule_k`` — Yule's K lexical-diversity characteristic per
  source from the exact frequency spectrum (length-insensitive, unlike
  raw type/token ratio).
* ``text_good_turing`` — Simple Good-Turing adjusted counts r* and the
  unseen-probability mass N1/N per source: the smoothing table a
  language model needs and the "how much vocabulary is left to see"
  companion of corpus_capture_recapture.
* ``stats_dispersion_index`` — variance-to-mean ratio of daily counts
  per metric with the chi-square overdispersion gate (Poisson-ness
  check before any count model).
* ``stats_hill_tail_index`` — Hill estimator of the value tail index
  per metric over the top-k order statistics (heavy-tail detector that
  decides mean-based vs quantile-based monitoring).

House discipline: pinned log constants instead of in-engine ln where
possible; where ln must run (Hill), once per order statistic on an
exact rational and quantized e9 immediately; all walks/iterations as
exact integer processes; chained-CTE value iteration shared verbatim
by both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from emr_with_custom_metrics_spark.catalog import register_views
from emr_with_custom_metrics_spark.dialect import DUCK, Dialect, SPARK
from emr_with_custom_metrics_spark.plans.stage_memo import stage_ctes
from emr_with_custom_metrics_spark.registry import register


# ---------------------------------------------------------------------------
# Wald SPRT
# ---------------------------------------------------------------------------
# H0: p = 0.45 vs H1: p = 0.55 for the per-event indicator "value above
# the metric's doubled median" (so true p ~ 0.5 sits between the
# hypotheses and real data usually keeps sampling — drifted metrics
# decide early). Symmetric hypotheses make the per-event log-likelihood
# increment +-L with L = ln(0.55/0.45); the walk after t events is
# L_e9 * (2*successes_t - t), an exact integer. Bounds: ln((1-b)/a) =
# ln 19 at a = b = 0.05 (pinned e9 literals — no in-engine ln at all).
# Decision = first boundary crossing in (event-time, event_id) order.
#
# Scale: one window cumsum per metric + a min-over-crossings — the
# sequential readout costs one pass, same as any running aggregate.
# Pinned constants: ln(11/9)*1e9 = 200670695, ln(19)*1e9 = 2944438979.

_SPRT_TMPL = """
    WITH base AS (
        SELECT event_type,
               {d.epoch_us} AS us,
               event_id,
               CAST(ROUND(value * 1000) AS BIGINT) AS v_e3
        FROM events
    ), med AS (
        -- doubled median from the per-metric value histogram, not a
        -- per-group ROW_NUMBER sort (the round-11 x10-probe posture);
        -- the WALK below is inherently sequential per metric — that
        -- ordering is the operator's semantics, the median's is not
        SELECT event_type,
               CAST(MIN(CASE WHEN cw >= CAST(FLOOR((n + 1) / 2.0e0)
                                              AS BIGINT)
                             THEN v_e3 END)
                  + MIN(CASE WHEN cw >= CAST(FLOOR((n + 2) / 2.0e0)
                                              AS BIGINT)
                             THEN v_e3 END) AS BIGINT) AS med2
        FROM (SELECT event_type, v_e3,
                     CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY v_e3
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw,
                     CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT)
                         AS n
              FROM (SELECT event_type, v_e3, CAST(COUNT(*) AS BIGINT) AS c
                    FROM base GROUP BY event_type, v_e3) h) r
        GROUP BY event_type
    ), walk AS (
        SELECT b.event_type,
               CAST(ROW_NUMBER() OVER (PARTITION BY b.event_type
                                       ORDER BY b.us, b.event_id) AS BIGINT)
                   AS t,
               CAST(200670695 * (2 * SUM(CASE WHEN 2 * b.v_e3 > m.med2
                                              THEN 1 ELSE 0 END)
                    OVER (PARTITION BY b.event_type ORDER BY b.us, b.event_id
                          ROWS UNBOUNDED PRECEDING)
                    - ROW_NUMBER() OVER (PARTITION BY b.event_type
                                         ORDER BY b.us, b.event_id))
                    AS BIGINT) AS llr_e9
        FROM base b JOIN med m ON b.event_type = m.event_type
    ), crossing AS (
        SELECT event_type,
               MIN(CASE WHEN llr_e9 >= 2944438979 OR llr_e9 <= -2944438979
                        THEN t END) AS t_decide
        FROM walk GROUP BY event_type
    ), tail AS (
        SELECT w.event_type,
               CAST(MAX(w.t) AS BIGINT) AS n_total,
               CAST(MAX(CASE WHEN w.t = c.t_decide THEN w.llr_e9 END)
                    AS BIGINT) AS llr_at_decision_e9,
               CAST(MAX(c.t_decide) AS BIGINT) AS n_at_decision,
               CAST(MAX(CASE WHEN w.t = x.tmax THEN w.llr_e9 END) AS BIGINT)
                   AS llr_final_e9
        FROM walk w
        LEFT JOIN crossing c ON w.event_type = c.event_type
        JOIN (SELECT event_type, MAX(t) AS tmax FROM walk GROUP BY event_type)
             x ON w.event_type = x.event_type
        GROUP BY w.event_type
    )
    SELECT event_type, n_total, n_at_decision, llr_at_decision_e9,
           llr_final_e9,
           CASE WHEN n_at_decision IS NULL THEN 'continue'
                WHEN llr_at_decision_e9 >= 2944438979 THEN 'accept_h1'
                ELSE 'accept_h0' END AS decision
    FROM tail
"""


@register(
    "stats_sprt_sequential",
    oracle=_SPRT_TMPL.format(d=DUCK),
    doc="Wald SPRT per metric (H0 p=.45 vs H1 p=.55 on the above-median "
    "indicator, alpha=beta=.05): the log-likelihood walk is the exact "
    "integer L_e9*(2s_t - t) with pinned e9 log constants (ln(11/9), "
    "ln 19 — no in-engine ln), decision at the first boundary crossing "
    "in (event-time, id) order. The always-valid sequential monitor "
    "the fixed-n t-test family cannot provide; one window pass.",
)
def stats_sprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    # Opt r15 (guide §2.4): `walk` feeds crossing + the tail's w side
    # + the tmax subquery — three inlined references, each re-running
    # the scan + median join + both cumulative windows.
    return stage_ctes(spark, _SPRT_TMPL.format(d=SPARK), "walk")


# ---------------------------------------------------------------------------
# Markov absorption times
# ---------------------------------------------------------------------------
# Consecutive-event transitions per user define the journey chain;
# purchase is made absorbing. Expected steps to absorption h solve
# h = 1 + P_non h — approximated by 40 exact value-iteration rounds
# h_{k+1}(s) = round(1e6 + sum_s' c(s,s') * h_k(s') / c(s)) on e6
# integers (all values and partial sums are exact integers < 2^53, so
# holding them in DOUBLE array slots loses nothing and every reduction
# is order-pinned by the sorted state list). The WHOLE iteration runs
# as ONE higher-order array fold over the model-sized packed state —
# no per-round stage, join, or lineage cut (the first draft chained 40
# CTEs: DuckDB inlined the single-reference chain into exponential
# recomputation — a live hang — and Spark's analyzer exceeded its
# 100-iteration fixed-point budget; 5.9 s staged -> sub-second folded).
# States that cannot reach purchase saturate toward the 40-round cap
# and surface via converged = false.

_ABS_ROUNDS = 40

_ABS_BASE_TMPL = """
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (PARTITION BY user_id
                   ORDER BY {d.epoch_us}, event_id) AS nxt
        FROM events
    ), trans AS (
        SELECT event_type AS s_from, nxt AS s_to,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM seq WHERE nxt IS NOT NULL
        GROUP BY event_type, nxt
    ), grid AS (
        SELECT s_from AS s, CAST(SUM(c) AS BIGINT) AS row_tot
        FROM trans GROUP BY s_from
    ), states AS (
        -- the FULL state set: a state seen only as a transition TARGET
        -- (no outgoing rows) must still occupy an h slot, else the
        -- value-iteration sum silently treats it as h = 0 like the
        -- absorbing state (r11 ADVICE item 4). Dead-end non-purchase
        -- states instead saturate via an implicit self-loop in the
        -- step expression, so converged = false surfaces them.
        SELECT s_from AS s FROM trans
        UNION
        SELECT s_to FROM trans
    )
"""

# One value-iteration step as a pure array expression over the packed
# model: `{h}` is the previous iterate (array<double> aligned with the
# sorted state list sts), el the struct list of transition counts, gl
# the struct list of row totals. c(s_i, s_j) lookups fold the filtered
# struct list (empty filter -> the 0 init), so absent cells are exact
# zeros — the same null-skip semantics the relational form had.
_ABS_STEP_SPARK = """
        transform(sequence(1, size(p.sts)), i ->
          CASE WHEN element_at(p.sts, i) = 'purchase'
               THEN CAST(0 AS DOUBLE)
               WHEN size(filter(p.gl, g -> g.s = element_at(p.sts, i))) = 0
               THEN round(CAST(1000000 AS DOUBLE) + element_at({h}, i))
               ELSE round(CAST(1000000 AS DOUBLE)
                 + aggregate(sequence(1, size(p.sts)), CAST(0 AS DOUBLE),
                     (a, j) -> a
                       + aggregate(filter(p.el, x ->
                             x.f = element_at(p.sts, i)
                             AND x.t = element_at(p.sts, j)),
                           CAST(0 AS DOUBLE), (b, x) -> b + x.c)
                         * element_at({h}, j))
                 / aggregate(filter(p.gl, g -> g.s = element_at(p.sts, i)),
                     CAST(0 AS DOUBLE), (b, g) -> b + g.rt))
          END)
"""

_ABS_STEP_DUCK = """
        list_transform(generate_series(1, len(p.sts)), i ->
          CASE WHEN p.sts[i] = 'purchase' THEN CAST(0 AS DOUBLE)
               WHEN len(list_filter(p.gl, g -> g.s = p.sts[i])) = 0
               THEN round(CAST(1000000 AS DOUBLE) + {h}[i])
               ELSE round(CAST(1000000 AS DOUBLE)
                 + list_sum(list_transform(generate_series(1, len(p.sts)),
                     j -> coalesce(list_sum(list_transform(
                              list_filter(p.el, x -> x.f = p.sts[i]
                                                 AND x.t = p.sts[j]),
                              x -> CAST(x.c AS DOUBLE))), 0.0)
                          * {h}[j]))
                 / list_sum(list_transform(
                       list_filter(p.gl, g -> g.s = p.sts[i]),
                       g -> CAST(g.rt AS DOUBLE))))
          END)
"""

# Spark: native fold with an init. DuckDB: list_reduce has no init and
# needs uniform element types, so the fold runs over [h0] ++ n dummy
# DOUBLE[] steps (the holt_winters list-accumulator lesson).
_ABS_FOLD_SPARK = """
        aggregate(sequence(1, {n}),
                  transform(p.sts, s -> CAST(0 AS DOUBLE)),
                  (hacc, k) -> {step})
"""

_ABS_FOLD_DUCK = """
        list_reduce(
          list_concat([list_transform(p.sts, s -> CAST(0 AS DOUBLE))],
                      list_transform(generate_series(1, {n}),
                                     z -> CAST([] AS DOUBLE[]))),
          (hacc, xstep) -> {step})
"""

_ABS_TAIL_TMPL = """
    , packed AS {mat} (
        SELECT
            (SELECT {sort_fn}({collect}(s)) FROM states) AS sts,
            (SELECT {collect}({strct_el}) FROM trans) AS el,
            (SELECT {collect}({strct_gl}) FROM grid) AS gl
    ), folded AS {mat} (
        SELECT p.sts,
               ({fold_last}) AS h_last,
               ({fold_prev}) AS h_prev
        FROM packed p
    )
    SELECT st.s AS state, CAST(COALESCE(g.row_tot, 0) AS BIGINT)
               AS n_transitions,
           CAST({elem_at}(f.h_last, {poscast}) AS BIGINT) AS exp_steps_e6,
           CAST({elem_at}(f.h_prev, {poscast}) AS BIGINT)
               AS exp_steps_prev_e6,
           CAST({elem_at}(f.h_last, {poscast}) AS BIGINT)
             - CAST({elem_at}(f.h_prev, {poscast}) AS BIGINT) <= 1
               AS converged
    FROM states st LEFT JOIN grid g ON g.s = st.s CROSS JOIN folded f
"""


def _absorption_sql(d: Dialect) -> str:
    if d is SPARK:
        step = _ABS_STEP_SPARK.format(h="hacc")
        fold_last = _ABS_FOLD_SPARK.format(n=_ABS_ROUNDS, step=step)
        fold_prev = _ABS_FOLD_SPARK.format(n=_ABS_ROUNDS - 1, step=step)
        tail = _ABS_TAIL_TMPL.format(
            mat="",
            sort_fn="array_sort",
            collect="collect_list",
            strct_el="struct(s_from AS f, s_to AS t, c AS c)",
            strct_gl="struct(s AS s, row_tot AS rt)",
            fold_last=fold_last,
            fold_prev=fold_prev,
            elem_at="element_at",
            poscast="CAST(array_position(f.sts, st.s) AS INT)",
        )
        return _ABS_BASE_TMPL.format(d=SPARK) + tail
    step = _ABS_STEP_DUCK.format(h="hacc")
    fold_last = _ABS_FOLD_DUCK.format(n=_ABS_ROUNDS, step=step)
    fold_prev = _ABS_FOLD_DUCK.format(n=_ABS_ROUNDS - 1, step=step)
    tail = _ABS_TAIL_TMPL.format(
        mat="MATERIALIZED",
        sort_fn="list_sort",
        collect="list",
        strct_el="struct_pack(f := s_from, t := s_to, c := c)",
        strct_gl="struct_pack(s := s, rt := row_tot)",
        fold_last=fold_last,
        fold_prev=fold_prev,
        elem_at="list_extract",
        poscast="list_position(f.sts, st.s)",
    )
    return _ABS_BASE_TMPL.format(d=DUCK) + tail


@register(
    "events_markov_absorption",
    oracle=_absorption_sql(DUCK),
    doc="Expected steps to the purchase state from every state of the "
    "user-journey chain (purchase absorbing): 40 rounds of exact value "
    "iteration h <- round(1e6 + sum c(s,s')h(s')/c(s)) on e6 integers "
    "held in DOUBLE array slots (every value and partial sum an exact "
    "integer < 2^53, reductions order-pinned by the sorted state "
    "list), run as ONE higher-order array fold over the packed "
    "model-sized state — no per-round stage or lineage cut on either "
    "engine. The last-round delta is the convergence flag. The 'how "
    "far is each behavior from converting' readout on top of "
    "events_transition_matrix.",
)
def events_markov_absorption(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_absorption_sql(SPARK))


# ---------------------------------------------------------------------------
# Yule's K
# ---------------------------------------------------------------------------
# K = 1e4 * (sum m^2 V(m) - N) / N^2 over the exact term-frequency
# spectrum V(m) per source — the classic length-insensitive lexical
# diversity / repetitiveness characteristic (template farms score
# high). All moments exact integers; one double epilogue.

_YULE_TMPL = """
    WITH tok AS (
        SELECT source, {d.terms} AS term FROM documents
    ), tf AS (
        SELECT source, term, CAST(COUNT(*) AS BIGINT) AS m
        FROM tok GROUP BY source, term
    ), spectrum AS (
        SELECT source, m, CAST(COUNT(*) AS BIGINT) AS v_m
        FROM tf GROUP BY source, m
    )
    SELECT source,
           CAST(SUM(m * v_m) AS BIGINT) AS n_tokens,
           CAST(SUM(v_m) AS BIGINT) AS vocab,
           CAST(ROUND(CAST(10000 AS DOUBLE)
                * (SUM(m * m * v_m) - SUM(m * v_m))
                / (CAST(SUM(m * v_m) AS DOUBLE) * SUM(m * v_m))
                * 1000000) AS BIGINT) AS yule_k_e6
    FROM spectrum GROUP BY source
"""


@register(
    "text_yule_k",
    oracle=_YULE_TMPL.format(d=DUCK),
    doc="Yule's K lexical-diversity characteristic per source from the "
    "exact term-frequency spectrum: K = 1e4 (sum m^2 V(m) - N)/N^2, all "
    "moments exact integers, one double epilogue e6. Length-insensitive "
    "where raw type/token ratio is not — the repetitiveness axis beside "
    "text_heaps_law's growth curve and text_zipf_fit's rank slope.",
)
def text_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("documents",))
    return spark.sql(_YULE_TMPL.format(d=SPARK))


# ---------------------------------------------------------------------------
# Simple Good-Turing table
# ---------------------------------------------------------------------------
# Per source: the frequency-of-frequencies N_r for r = 1..5, the
# Good-Turing adjusted count r* = (r+1) N_{r+1} / N_r (e6-quantized
# exact rational; 0 with a gap flag when N_{r+1} is empty), and the
# unseen mass P0 = N_1/N (e9). The smoothing table an n-gram LM
# consumes, and the spectral "how much is left to see" companion of
# corpus_capture_recapture's set-overlap estimate.

_SGT_TMPL = """
    WITH tok AS (
        SELECT source, {d.terms} AS term FROM documents
    ), tf AS (
        SELECT source, term, CAST(COUNT(*) AS BIGINT) AS m
        FROM tok GROUP BY source, term
    ), spectrum AS (
        SELECT source, m AS r, CAST(COUNT(*) AS BIGINT) AS n_r
        FROM tf GROUP BY source, m
    ), tot AS (
        SELECT source, CAST(SUM(r * n_r) AS BIGINT) AS n_tokens
        FROM spectrum GROUP BY source
    ), rows5 AS (
        SELECT t.source, d.r, o.n_tokens,
               CAST(COALESCE(s.n_r, 0) AS BIGINT) AS n_r,
               CAST(COALESCE(s1.n_r, 0) AS BIGINT) AS n_r1
        FROM (SELECT DISTINCT source FROM spectrum) t
        CROSS JOIN (SELECT * FROM (VALUES (1), (2), (3), (4), (5)) v(r)) d
        JOIN tot o ON o.source = t.source
        LEFT JOIN spectrum s ON s.source = t.source AND s.r = d.r
        LEFT JOIN spectrum s1 ON s1.source = t.source AND s1.r = d.r + 1
    )
    SELECT source, CAST(r AS BIGINT) AS r, n_r, n_r1,
           CASE WHEN n_r > 0
                THEN CAST(ROUND(CAST(r + 1 AS DOUBLE) * n_r1 / n_r * 1000000)
                     AS BIGINT)
                ELSE 0 END AS r_star_e6,
           n_r = 0 OR n_r1 = 0 AS spectrum_gap,
           CAST(ROUND(CAST(FIRST_VALUE(n_r) OVER (PARTITION BY source
                ORDER BY r) AS DOUBLE) / n_tokens * 1000000000) AS BIGINT)
               AS p_unseen_e9
    FROM rows5
"""


@register(
    "text_good_turing",
    oracle=_SGT_TMPL.format(d=DUCK),
    doc="Simple Good-Turing table per source: frequency-of-frequencies "
    "N_r for r=1..5 (absent rows surfaced via the full source x r grid "
    "+ spectrum_gap flag), adjusted counts r* = (r+1)N_{r+1}/N_r as "
    "e6-quantized exact rationals, unseen mass P0 = N_1/N e9. The "
    "LM smoothing table, and the spectral companion of "
    "corpus_capture_recapture's overlap-based saturation estimate.",
)
def text_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("documents",))
    return spark.sql(_SGT_TMPL.format(d=SPARK))


# ---------------------------------------------------------------------------
# Dispersion index (Poisson-ness)
# ---------------------------------------------------------------------------
# Per metric over DAILY counts: D = s^2/xbar; under Poisson,
# (n-1)D ~ chi2(n-1), normal-approximated as z = ((n-1)D - (n-1)) /
# sqrt(2(n-1)). Exact integer moments; D and z single epilogues.
# Overdispersion (z > 1.645) is the gate before any Poisson count
# model — and the justification column for the negative-binomial path.

_DISPIDX_TMPL = """
    WITH daily AS (
        SELECT event_type,
               {d.epoch_day} AS d,
               CAST(COUNT(*) AS BIGINT) AS v
        FROM events GROUP BY event_type, CAST(FLOOR({d.epoch_s} / 86400)
                                              AS BIGINT)
    ), mom AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS BIGINT) AS s1,
               CAST(SUM(v * v) AS BIGINT) AS s2
        FROM daily GROUP BY event_type
    )
    SELECT event_type, n AS n_days, s1 AS n_events,
           CASE WHEN n > 1 AND s1 > 0
                THEN CAST(ROUND((CAST(s2 AS DOUBLE)
                                 - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1)
                          / (CAST(s1 AS DOUBLE) / n) * 1000000) AS BIGINT)
                ELSE 0 END AS dispersion_e6,
           CASE WHEN n > 1 AND s1 > 0
                THEN CAST(ROUND(((CAST(s2 AS DOUBLE)
                                  - CAST(s1 AS DOUBLE) * s1 / n)
                                 / (CAST(s1 AS DOUBLE) / n) - (n - 1))
                          / sqrt(2.0e0 * (n - 1)) * 1000000) AS BIGINT)
                ELSE 0 END AS z_e6,
           CASE WHEN n > 1 AND s1 > 0
                THEN CAST(ROUND(((CAST(s2 AS DOUBLE)
                                  - CAST(s1 AS DOUBLE) * s1 / n)
                                 / (CAST(s1 AS DOUBLE) / n) - (n - 1))
                          / sqrt(2.0e0 * (n - 1)) * 1000000) AS BIGINT)
                     > 1645000
                ELSE FALSE END AS overdispersed
    FROM mom
"""


@register(
    "stats_dispersion_index",
    oracle=_DISPIDX_TMPL.format(d=DUCK),
    doc="Variance-to-mean dispersion index of daily counts per metric "
    "with the chi-square overdispersion gate (normal approximation of "
    "(n-1)D ~ chi2, one-sided 5%): the Poisson-ness check run before "
    "any count model, and the justification column for negative-"
    "binomial handling. Exact integer moments, two double epilogues.",
)
def stats_dispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_DISPIDX_TMPL.format(d=SPARK))


# ---------------------------------------------------------------------------
# Hill tail-index estimator
# ---------------------------------------------------------------------------
# Per metric: the Hill estimator over the top k=100 order statistics of
# the value distribution: gamma = (1/k) sum ln(x_(i)/x_(k+1)),
# alpha = 1/gamma. ln runs once per retained order statistic on an
# exact integer ratio and quantizes e9 immediately (the house libm
# hazard); the mean is then an exact integer reduction. Heavy tails
# (alpha < 2: infinite variance) flip monitoring from mean-based to
# quantile-based — this is the query that decides.

_HILL_TMPL = """
    WITH base AS (
        SELECT event_type, CAST(ROUND(value * 1000) AS BIGINT) AS v_e3
        FROM events WHERE value > 0
    ), ranked AS (
        SELECT event_type, v_e3,
               CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                    ORDER BY v_e3 DESC) AS BIGINT) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM base
    ), cutoff AS (
        SELECT event_type, v_e3 AS xk1
        FROM ranked WHERE rn = 101
    ), terms AS (
        SELECT r.event_type, c.xk1,
               CAST(ROUND(ln(CAST(r.v_e3 AS DOUBLE) / c.xk1) * 1000000000)
                    AS BIGINT) AS lnr_e9
        FROM ranked r JOIN cutoff c ON r.event_type = c.event_type
        WHERE r.rn <= 100 AND c.xk1 > 0
    ), hill AS (
        SELECT event_type, xk1, CAST(SUM(lnr_e9) AS BIGINT) AS s_e9
        FROM terms GROUP BY event_type, xk1
    ), pos AS (
        SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_pos FROM ranked
        GROUP BY event_type
    )
    -- every metric emits a row: a slice with < 101 positive values (or
    -- a zero 101st order statistic) carries n_insufficient = TRUE and
    -- zeroed estimates instead of silently vanishing (r11 ADVICE 3)
    SELECT p.event_type, p.n_pos,
           h.event_type IS NULL AS n_insufficient,
           CAST(CASE WHEN h.event_type IS NOT NULL THEN 100 ELSE 0 END
                AS BIGINT) AS k,
           CAST(COALESCE(h.xk1, 0) AS BIGINT) AS xk1_e3,
           CASE WHEN h.event_type IS NOT NULL
                THEN CAST(ROUND(CAST(h.s_e9 AS DOUBLE) / 100) AS BIGINT)
                ELSE 0 END AS hill_gamma_e9,
           CASE WHEN h.s_e9 > 0
                THEN CAST(ROUND(CAST(100 AS DOUBLE) / h.s_e9
                           * 1000000000 * 1000000) AS BIGINT)
                ELSE 0 END AS alpha_e6,
           CASE WHEN h.s_e9 > 0
                THEN CAST(ROUND(CAST(100 AS DOUBLE) / h.s_e9
                           * 1000000000 * 1000000) AS BIGINT) < 2000000
                ELSE FALSE END AS heavy_tail
    FROM pos p LEFT JOIN hill h ON p.event_type = h.event_type
"""


@register(
    "stats_hill_tail_index",
    oracle=_HILL_TMPL,
    doc="Hill tail-index estimator per metric over the top-100 order "
    "statistics: gamma = mean ln(x_(i)/x_(101)) with each ln run once "
    "on an exact integer ratio and quantized e9 immediately, alpha = "
    "1/gamma, heavy_tail flag at alpha < 2 (infinite variance — the "
    "flip from mean-based to quantile-based monitoring). Every metric "
    "emits a row: slices with < 101 positive values carry "
    "n_insufficient = TRUE and zeroed estimates instead of silently "
    "vanishing. One window pass; the tail complement of "
    "stats_winsorized_mean's robust center.",
)
def stats_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_HILL_TMPL)
