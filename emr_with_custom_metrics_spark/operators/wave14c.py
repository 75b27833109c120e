"""Round-14 wave 14c: deep burst hierarchies and Markov-chain mixing.

* ``timeseries_kleinberg_depth`` — the Kleinberg burst hierarchy at
  DEPTH 5 via a PARAMETERIZED level-count generator (the r12-VERDICT
  scoped extension of wave-13a's fixed 3-state fold): levels at
  2^s * lam0 for s = 0..4, upward transitions paying (j-i)*ln(n),
  decoded by exact integer min-plus Viterbi as ONE 36-slot array
  fold per metric. Emits what the 3-state row structurally cannot:
  the full per-level occupancy profile of the optimal path (hours at
  each of the 5 levels) and the DEPTH actually used — whether the
  corpus's bursts saturate at 2x or genuinely reach 16x.
* ``events_markov_spectral_gap`` — |lambda_2| of the user-journey
  Markov transition matrix by deflated power iteration run as ONE
  array fold over 24 rounds: iterate w <- P w, re-center (P1 = 1, so
  removing the mean deflates the lambda_1 = 1 eigenspace), L1-
  normalize with the per-round log-ratio accumulated as e9 integers
  (the Fisher lnp pattern), |lambda_2| = exp(mean log ratio). The
  spectral gap 1 - |lambda_2| and relaxation time 1/gap say how fast
  user behavior forgets its past — the MIXING readout the absorption
  and removal-effect rows don't give.

House discipline: the Kleinberg DP is integer max-plus end-to-end
(no per-round quantization at all); the power iteration quantizes the
normalized vector and the log-ratio e9 per round; every fold lambda
captures at most ONE outer column (the packed transition matrix);
degenerate cases (rank-deficient chain, zero-variance series) emit
flagged rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from emr_with_custom_metrics_spark.catalog import register_views
from emr_with_custom_metrics_spark.dialect import DUCK, Dialect, SPARK
from emr_with_custom_metrics_spark.operators.stats import (
    hour_counts_sql,
    spine_from_counts,
)
from emr_with_custom_metrics_spark.registry import register

# ---------------------------------------------------------------------------
# Kleinberg hierarchy at parameterized depth (L = 5)
# ---------------------------------------------------------------------------
# Fold-state layout for L levels (here L = 5, 36 slots):
#   1..L                costs of the best path ending at each level
#   L+1 .. L+L*L        occ[s][lvl]: hours spent at level lvl on the
#                       best path ending at s (slot L + L*s + lvl + 1)
#   L+L*L+1 .. L+L*L+L  episodes (maximal level>=1 runs) per end state
#   last                all-base-path cost
# Everything is e3-quantized integer min-plus — both engines walk the
# identical DP path with no per-round float rounding (the wave-13a
# discipline, generalized).

_KD_L = 5
_KD_BIG = "1.0e18"


def _kd_pred(costs: list[str]) -> str:
    """argmin over L penalized predecessor costs; ties to the lowest
    level (generalizes wave13a's 3-way CASE)."""
    arms = []
    n = len(costs)
    for i in range(n - 1):
        conds = " AND ".join(
            f"{costs[i]} <= {costs[j]}" for j in range(i + 1, n)
        )
        arms.append(f"WHEN {conds} THEN {float(i)}e0")
    return "CASE " + " ".join(arms) + f" ELSE {float(n - 1)}e0 END"


def _kd_step(d: Dialect) -> str:
    L = _KD_L
    if d is SPARK:
        el = lambda i: f"element_at(acc, {i})"
        elx = lambda e: f"element_at(acc, CAST({e} AS INT))"
        st = lambda i: f"element_at(st, {i})"
        bind = "element_at(transform(array(named_struct({named})), w -> array({slots})), 1)"
        named = lambda k, v: f"'{k}', {v}"
    else:
        el = lambda i: f"acc[{i}]"
        elx = lambda e: f"acc[CAST({e} AS INT)]"
        st = lambda i: f"st[{i}]"
        bind = "list_transform([struct_pack({named})], w -> [{slots}])[1]"
        named = lambda k, v: f"{k} := ({v})"
    g = "p.gam_e3"
    preds = {}
    for j in range(L):
        cands = [
            f"{el(i + 1)} + {float(j - i)}e0 * {g}" if i < j else el(i + 1)
            for i in range(L)
        ]
        preds[j] = _kd_pred(cands)
    slots = []
    for j in range(L):  # costs
        pj = f"w.p{j}"
        pen = f"greatest(0.0e0, {float(j)}e0 - {pj}) * {g}"
        slots.append(f"{elx(f'{pj} + 1.0e0')} + {pen} + {st(j + 1)}")
    for s in range(L):  # occupancy: the current hour adds to level s
        for lvl in range(L):
            up = " + 1.0e0" if lvl == s else ""
            slots.append(
                f"{elx(f'{L}.0e0 + {L}.0e0 * w.p{s} + {float(lvl)}e0 + 1.0e0')}{up}"
            )
    for s in range(L):  # episodes: entering level>=1 from level 0
        up = (
            f" + (CASE WHEN w.p{s} = 0.0e0 THEN 1.0e0 ELSE 0.0e0 END)"
            if s >= 1
            else ""
        )
        slots.append(f"{elx(f'{L + L * L}.0e0 + w.p{s} + 1.0e0')}{up}")
    slots.append(f"{el(L + L * L + L + 1)} + {st(1)}")  # all-base cost
    named_txt = ", ".join(named(f"p{j}", preds[j]) for j in range(L))
    return bind.format(named=named_txt, slots=", ".join(slots))


_KD_COMMON = """
    , serie AS (
        SELECT /*+ BROADCAST(c) */ s.event_type, s.h, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS v
        FROM spine s LEFT JOIN counts c
          ON c.event_type = s.event_type AND c.h = s.h
    ), rate AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               round(CAST(SUM(v) AS DOUBLE) / COUNT(*) * 1000000.0e0)
                   / 1000000.0e0 AS lam0
        FROM serie GROUP BY event_type
        HAVING SUM(v) > 0
    ), lns AS (
        SELECT event_type, n, lam0,
""" + ",\n".join(
    f"               round(ln({float(2 ** s)}e0 * lam0) * 1000000000.0e0)"
    f" / 1000000000.0e0 AS lnl{s}"
    for s in range(_KD_L)
) + """,
               round(ln(CAST(n AS DOUBLE)) * 1000.0e0) AS gam_e3
        FROM rate
    )
"""

_KD_C = [
    f"round(({float(2 ** s)}e0 * r.lam0 - se.v * r.lnl{s}) * 1000.0e0)"
    for s in range(_KD_L)
]


def _kd_sql(d: Dialect) -> str:
    L = _KD_L
    nslots = L + L * L + L + 1
    init_zeros = ", ".join(["{z}"] * (nslots - L))
    init_tmpl = (
        "{arr}({zero}, " + ", ".join(["{big}"] * (L - 1)) + ", "
        + init_zeros + ")"
    )
    prefix = spine_from_counts(d)
    if d is SPARK:
        cols = ",\n".join(
            f"                   CAST({_KD_C[s]} AS DOUBLE) AS c{s}"
            for s in range(L)
        )
        arr = ", ".join(f"s.c{s}" for s in range(L))
        packed = f"""
    , packed AS (
        SELECT /*+ BROADCAST(r) */ se.event_type, r.n, r.gam_e3,
               transform(array_sort(collect_list(struct(
                   se.h AS hh,
{cols}))),
                 s -> array({arr})) AS steps
        FROM serie se JOIN lns r ON r.event_type = se.event_type
        GROUP BY se.event_type, r.n, r.gam_e3
    )"""
        init = init_tmpl.format(
            arr="array", zero="CAST(0.0 AS DOUBLE)",
            big=f"CAST({_KD_BIG} AS DOUBLE)", z="CAST(0.0 AS DOUBLE)",
        )
        fold = (
            f"aggregate(p.steps, {init}, "
            f"(acc, st) -> ({_kd_step(SPARK)}))"
        )
        fin = "element_at(f.st, {i})"
    else:
        cols = ",\n".join(
            f"                     CAST({_KD_C[s]} AS DOUBLE)"
            for s in range(L)
        )
        packed = f"""
    , packed AS MATERIALIZED (
        SELECT /*+ BROADCAST(r) */ se.event_type, r.n, r.gam_e3,
               list([
{cols}]
                    ORDER BY se.h) AS steps
        FROM serie se JOIN lns r ON r.event_type = se.event_type
        GROUP BY se.event_type, r.n, r.gam_e3
    )"""
        init = init_tmpl.format(
            arr="list_value", zero="0.0", big=_KD_BIG, z="0.0"
        )
        fold = (
            f"list_reduce(list_concat([{init}], p.steps), "
            f"(acc, st) -> ({_kd_step(DUCK)}))"
        )
        fin = "f.st[{i}]"
    costs = [fin.format(i=i + 1) for i in range(L)]

    def pick(slot_of_best) -> str:
        arms = []
        for i in range(L - 1):
            conds = " AND ".join(
                f"{costs[i]} <= {costs[j]}" for j in range(i + 1, L)
            )
            arms.append(f"WHEN {conds} THEN {slot_of_best(i)}")
        return (
            "CASE " + " ".join(arms) + f" ELSE {slot_of_best(L - 1)} END"
        )

    bidx = pick(lambda i: str(i))
    occ = {
        lvl: pick(lambda s, lvl=lvl: fin.format(i=L + L * s + lvl + 1))
        for lvl in range(L)
    }
    episodes = pick(lambda s: fin.format(i=L + L * L + s + 1))
    best_cost = pick(lambda s: fin.format(i=s + 1))
    occ_cols = ",\n".join(
        f"           CAST({occ[lvl]} AS BIGINT) AS hours_l{lvl}"
        for lvl in range(L)
    )
    depth = (
        "CASE "
        + " ".join(
            f"WHEN ({occ[lvl]}) > 0.0e0 THEN {lvl}"
            for lvl in range(L - 1, 0, -1)
        )
        + " ELSE 0 END"
    )
    tail = f"""
    , folded AS (
        SELECT p.event_type, p.n, ({fold}) AS st
        FROM packed p
    )
    SELECT f.event_type, f.n AS n_hours,
           CAST({bidx} AS BIGINT) AS final_level,
{occ_cols},
           CAST({episodes} AS BIGINT) AS burst_episodes,
           CAST({depth} AS BIGINT) AS depth_used,
           CAST({fin.format(i=L + L * L + L + 1)} - ({best_cost})
                AS BIGINT) AS gain_e3
    FROM folded f
"""
    return prefix + _KD_COMMON + packed + tail


@register(
    "timeseries_kleinberg_depth",
    oracle=_kd_sql(DUCK),
    doc="Kleinberg burst hierarchy at DEPTH 5 (levels at 1x/2x/4x/8x/"
    "16x the mean hourly rate, upward transitions paying (j-i)*ln(n)) "
    "via a PARAMETERIZED level-count generator — the scoped extension "
    "of the fixed 3-state timeseries_kleinberg_multistate: one "
    "36-slot exact integer min-plus Viterbi fold per metric, "
    "emitting what the 3-state row structurally cannot — the optimal "
    "path's full per-level occupancy profile (hours at each of the 5 "
    "levels) and the depth actually used, i.e. whether bursts "
    "saturate at 2x or genuinely reach 16x. Costs e3-quantize once "
    "per hour from the pinned per-metric ln table; predecessor "
    "argmins break ties to the lowest level; both engines walk the "
    "bitwise-identical DP path (no per-round float quantization). "
    "Data-sized stage: the shared hourly reduction; the fold is "
    "calendar-bounded with O(L^2) work per hour.",
)
def timeseries_kleinberg_depth(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return hour_counts_sql(spark, sf_dir, _kd_sql(SPARK))


# ---------------------------------------------------------------------------
# Markov spectral gap (deflated power iteration)
# ---------------------------------------------------------------------------
# P = the row-normalized user-journey transition matrix (the
# events_transition_matrix construction; dead-end states get a self-
# loop — the r11 Markov lesson). Since P*1 = 1, iterating
# w <- center(P w) with the mean removed each round deflates the
# lambda_1 = 1 eigenspace, and the L1 norm ratio per round converges
# to |lambda_2| (for complex pairs the 24-round geometric mean
# averages the rotation). The matrix rides the row as ONE packed
# row-major column — the fold's only outer capture.

_MSG_ROUNDS = 24


def _msg_step(d: Dialect) -> str:
    if d is SPARK:
        el = "acc"
        k = f"(size({el}) - 2)"
        seq = lambda a, b: f"sequence({a}, {b})"
        tx, agg = "transform", "aggregate"
        idx = lambda arr, e: f"element_at({arr}, CAST({e} AS INT))"
        bind1 = "element_at(transform(array(named_struct('y', {y})), w1 -> {rest}), 1)"
        bind2 = "element_at(transform(array(named_struct('yc', {yc})), w2 -> {rest}), 1)"
        zer = "CAST(0.0 AS DOUBLE)"
    else:
        el = "acc"
        k = f"(len({el}) - 2)"
        seq = lambda a, b: f"generate_series({a}, {b})"
        tx, agg = "list_transform", "list_reduce"
        idx = lambda arr, e: f"{arr}[CAST({e} AS INT)]"
        bind1 = "list_transform([struct_pack(y := ({y}))], w1 -> {rest})[1]"
        bind2 = "list_transform([struct_pack(yc := ({yc}))], w2 -> {rest})[1]"
        zer = "0.0"
    # y_i = sum_j P[i][j] * w_j  (pm is the ONLY outer-column capture)
    if d is SPARK:
        dot = (
            f"{agg}({seq('1', k)}, {zer}, (sa, j) -> sa + "
            f"{idx('p.pm', f'(i - 1) * {k} + j')} * {idx(el, 'j')})"
        )
        yarr = f"{tx}({seq('1', k)}, i -> ({dot}))"
        mean = f"({agg}(w1.y, {zer}, (sa, x) -> sa + x) / size(w1.y))"
        ycarr = f"{tx}(w1.y, x -> x - {mean})"
        nrm = f"{agg}(w2.yc, {zer}, (sa, x) -> sa + abs(x))"
    else:
        dot = (
            f"{agg}(list_prepend({zer}, {tx}({seq('1', k)}, j -> "
            f"{idx('p.pm', f'(i - 1) * {k} + j')} * {idx(el, 'j')})), "
            f"(sa, x) -> sa + x)"
        )
        yarr = f"{tx}({seq('1', k)}, i -> ({dot}))"
        mean = f"(list_sum(w1.y) / len(w1.y))"
        ycarr = f"{tx}(w1.y, x -> x - {mean})"
        nrm = "list_sum(list_transform(w2.yc, x -> abs(x)))"
    if d is SPARK:
        out = (
            f"transform(sequence(1, size({el})), i -> CASE "
            f"WHEN i <= {k} AND nr > 1.0e-12 THEN "
            f"round({idx('w2.yc', 'i')} / nr * 1000000000.0e0) "
            f"/ 1000000000.0e0 "
            f"WHEN i <= {k} THEN {idx(el, 'i')} "
            f"WHEN i = {k} + 1 AND nr > 1.0e-12 THEN "
            f"{idx(el, 'i')} + round(ln(nr) * 1000000000.0e0) "
            f"WHEN i = {k} + 1 THEN {idx(el, 'i')} "
            f"WHEN nr > 1.0e-12 THEN {idx(el, 'i')} "
            f"ELSE 1.0e0 END)"
        )
        inner = (
            f"element_at(transform(array(named_struct('nr', ({nrm}))), "
            f"w3 -> {out.replace('nr', 'w3.nr')}), 1)"
        )
    else:
        out = (
            f"list_transform(generate_series(1, len({el})), i -> CASE "
            f"WHEN i <= {k} AND nr > 1.0e-12 THEN "
            f"round({idx('w2.yc', 'i')} / nr * 1000000000.0e0) "
            f"/ 1000000000.0e0 "
            f"WHEN i <= {k} THEN {idx(el, 'i')} "
            f"WHEN i = {k} + 1 AND nr > 1.0e-12 THEN "
            f"{idx(el, 'i')} + round(ln(nr) * 1000000000.0e0) "
            f"WHEN i = {k} + 1 THEN {idx(el, 'i')} "
            f"WHEN nr > 1.0e-12 THEN {idx(el, 'i')} "
            f"ELSE 1.0e0 END)"
        )
        inner = (
            f"list_transform([struct_pack(nr := ({nrm}))], "
            f"w3 -> {out.replace('nr', 'w3.nr')})[1]"
        )
    step = bind2.format(yc=ycarr, rest=inner)
    return bind1.format(y=yarr, rest=step)


def _msg_sql(d: Dialect) -> str:
    if d is SPARK:
        rounds = f"transform(sequence(1, {_MSG_ROUNDS}), z -> CAST(0.0 AS DOUBLE))"
        init = (
            "concat(transform(sequence(1, s.k), i -> CASE WHEN i = 1 "
            "THEN CAST(0.5 AS DOUBLE) ELSE round(-0.5e0 / (s.k - 1) "
            "* 1000000000.0e0) / 1000000000.0e0 END), "
            "array(CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)))"
        )
        fold = (
            f"aggregate({rounds}, p.init, "
            f"(acc, rd) -> ({_msg_step(SPARK)}))"
        )
        fin = lambda e: f"element_at(f.st, CAST({e} AS INT))"
        pack = (
            "transform(array_sort(collect_list(struct(i, j, pq))), "
            "x -> x.pq)"
        )
        ksz = "size(f.st) - 2"
    else:
        rounds = (
            f"list_transform(generate_series(1, {_MSG_ROUNDS}), z -> 0.0)"
        )
        init = (
            "list_concat(list_transform(generate_series(1, s.k), "
            "i -> CASE WHEN i = 1 THEN 0.5 ELSE round(-0.5 / (s.k - 1) "
            "* 1000000000.0) / 1000000000.0 END), [0.0, 0.0])"
        )
        fold = (
            f"list_reduce(list_concat([p.init], "
            f"list_transform({rounds}, z -> [z])), "
            f"(acc, rd) -> ({_msg_step(DUCK)}))"
        )
        fin = lambda e: f"f.st[CAST({e} AS INT)]"
        pack = "list(pq ORDER BY i, j)"
        ksz = "len(f.st) - 2"
    body = f"""
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt
        FROM events
    ), trans AS (
        SELECT event_type AS src, nxt AS dst,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM seq WHERE nxt IS NOT NULL GROUP BY event_type, nxt
    ), states AS (
        SELECT event_type AS st_name,
               CAST(ROW_NUMBER() OVER (ORDER BY event_type) AS BIGINT)
                   AS sid
        FROM (SELECT DISTINCT event_type FROM events) z
    ), outdeg AS (
        SELECT src, CAST(SUM(cnt) AS BIGINT) AS tot
        FROM trans GROUP BY src
    ), cells AS (
        -- dense k x k grid; dead-end rows become self-loops (the r11
        -- Markov dead-end lesson: no silent row of zeros)
        SELECT a.sid AS i, b.sid AS j,
               CASE WHEN o.tot IS NULL OR o.tot = 0
                    THEN CASE WHEN a.sid = b.sid THEN 1.0e0
                         ELSE 0.0e0 END
                    ELSE round(CAST(COALESCE(t.cnt, 0) AS DOUBLE)
                         / o.tot * 1000000000.0e0) / 1000000000.0e0
               END AS pq
        FROM states a
        CROSS JOIN states b
        LEFT JOIN outdeg o ON o.src = a.st_name
        LEFT JOIN trans t
          ON t.src = a.st_name AND t.dst = b.st_name
    ), pm AS (
        SELECT ({pack}) AS pm,
               CAST(MAX(i) AS BIGINT) AS k
        FROM cells
    ), seeded AS (
        SELECT s.pm, s.k, ({init}) AS init
        FROM pm s
    ), folded AS (
        SELECT p.k, ({fold}) AS st
        FROM seeded p
    )
    SELECT f.k AS n_states,
           CAST({_MSG_ROUNDS} AS BIGINT) AS n_rounds,
           {fin(ksz + " + 2")} >= 1.0e0 AS degenerate,
           CASE WHEN {fin(ksz + " + 2")} >= 1.0e0
                THEN CAST(0 AS BIGINT)
                ELSE CAST(ROUND(EXP({fin(ksz + " + 1")}
                     / 1000000000.0e0 / {_MSG_ROUNDS})
                     * 1000000000) AS BIGINT) END AS lambda2_e9,
           CASE WHEN {fin(ksz + " + 2")} >= 1.0e0
                THEN CAST(1000000000 AS BIGINT)
                ELSE CAST(1000000000 - ROUND(EXP({fin(ksz + " + 1")}
                     / 1000000000.0e0 / {_MSG_ROUNDS})
                     * 1000000000) AS BIGINT) END AS spectral_gap_e9
    FROM folded f
"""
    return body


@register(
    "events_markov_spectral_gap",
    oracle=_msg_sql(DUCK),
    doc="|lambda_2| and the spectral gap of the user-journey Markov "
    "transition matrix (the events_transition_matrix construction, "
    "e9-quantized row-normalization, dead-end rows as self-loops — "
    "the r11 lesson) by DEFLATED POWER ITERATION as one array fold: "
    "24 rounds of w <- P w with the mean removed each round (P1 = 1, "
    "so centering deflates the lambda_1 eigenspace), L1-normalized "
    "with each round's log norm-ratio accumulated as e9 integers "
    "(the Fisher lnp pattern; for a complex lambda_2 pair the "
    "geometric mean over 24 rounds averages the rotation). The gap "
    "1 - |lambda_2| is the chain's MIXING speed — how fast user "
    "behavior forgets its past — which the absorption-time and "
    "removal-effect rows do not measure. The packed row-major matrix "
    "is the fold's only outer capture (the round-13 single-capture "
    "rule); a rank-deficient chain that collapses the iterate to "
    "zero emits a degenerate-flagged row. Model-sized end to end "
    "after one LEAD window + one 25-cell count.",
)
def events_markov_spectral_gap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_msg_sql(SPARK))
