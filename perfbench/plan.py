"""Seeded workload plans.

A plan is everything the benchmark sends to the program: SQL texts, bind
values, lookup keys, inserted rows and statement order. It is a pure
function of (workload, seed, seconds), so the same seed always gives the
same plan. `seconds` sizes the fixed work of a run (writer operations,
operator passes) to take about that long on a 4-core box, and the run
measures all of it. Readers of served_ingest_dashboard are closed-loop
clients: they repeat their seeded sequence until the writer is done, so
they load the whole window whatever the box's speed.

Sizes are fixed per statement kind and only *which* rows a statement touches
and the order of statements depend on the seed: a seed must not change how
much work a run does, or seed-to-seed variation would show up as noise in
the end-to-end metrics.
"""

import random

# served_ingest_dashboard
CATALOG = "wh"
TABLE = "bench.live"
FQ_TABLE = f"{CATALOG}.{TABLE}"
INSERT_ROWS = 40            # rows per writer INSERT
DELETE_EVERY = 3            # every 3rd writer op is a predicate DELETE
COMPACT_EVERY = 4           # every 4th writer op is a compaction
WRITER_OPS_PER_SECOND = 1.25  # writer op count = seconds * this
GROUPS = 16
READERS = 3
READER_CYCLES = 4           # 9 statements each, repeated until the writer is done
TAGS = ("alpha", "beta", "gamma", "delta", "epsilon", "zeta")

# operator_pipeline: in-process graft.operators queries (noop sink).
OPERATOR_QUERIES = ("q_dedup_cc_star", "q_pipeline_e2e")
OPERATOR_PASS_SECONDS = 4.0  # one pass of OPERATOR_QUERIES on 4 cores


def _row_sql(rows):
    return ", ".join(f"({i}, {g}, {a}, '{t}')" for i, g, a, t in rows)


def _ingest(rng, seconds):
    n_ops = max(COMPACT_EVERY, round(seconds * WRITER_OPS_PER_SECOND))
    ops, live, next_id = [], {}, 1
    for k in range(1, n_ops + 1):
        if k % COMPACT_EVERY == 0:
            ops.append({"op": "compact",
                        "sql": f"CALL {CATALOG}.system.compact("
                               f"'{TABLE}', 'id', 2)"})
        elif k % DELETE_EVERY == 0:
            # The predicate removes the three smallest amounts of a seeded
            # group, chosen from the simulated live rows so it always
            # matches (every DELETE commits a snapshot) and always removes
            # about the same number of rows.
            grp = live[rng.choice(sorted(live))][1]
            amounts = sorted(r[2] for r in live.values() if r[1] == grp)
            bound = amounts[min(2, len(amounts) - 1)] + 1
            ops.append({"op": "delete", "grp": grp, "amount_lt": bound,
                        "sql": f"DELETE FROM {FQ_TABLE} WHERE grp = {grp} "
                               f"AND amount < {bound}"})
            for i in [i for i, r in live.items()
                      if r[1] == grp and r[2] < bound]:
                del live[i]
        else:
            rows = []
            for _ in range(INSERT_ROWS):
                row = (next_id, rng.randrange(GROUPS),
                       rng.randrange(1_000_000), rng.choice(TAGS))
                rows.append(row)
                live[next_id] = row
                next_id += 1
            ops.append({"op": "insert", "rows": [list(r) for r in rows],
                        "sql": f"INSERT INTO {FQ_TABLE} VALUES {_row_sql(rows)}"})
    readers = []
    for r in range(READERS):
        seq = []
        for _ in range(READER_CYCLES):
            cycle = [{"kind": "point", "key": str(rng.randrange(1, next_id))}
                     for _ in range(4)]
            cycle += [{"kind": "groupby"}, {"kind": "count"},
                      {"kind": "version", "ordinal": rng.randrange(1 << 30)},
                      {"kind": "get_tables"}, {"kind": "get_columns"}]
            rng.shuffle(cycle)
            seq.extend(cycle)
        readers.append({"name": f"reader{r}", "sequence": seq})
    return {
        "catalog": CATALOG,
        "table": TABLE,
        "create_sql": f"CREATE TABLE {FQ_TABLE} (id BIGINT, grp INT, "
                      "amount BIGINT, tag STRING)",
        "reader_sql": {
            "point": f"SELECT id, grp, amount, tag FROM {FQ_TABLE} "
                     "WHERE id = ?",
            "groupby": f"SELECT grp, count(*) AS n, sum(amount) AS s "
                       f"FROM {FQ_TABLE} GROUP BY grp ORDER BY grp",
            "count": f"SELECT count(*) AS n FROM {FQ_TABLE}",
            "version": f"SELECT count(*) AS n, sum(amount) AS s "
                       f"FROM {FQ_TABLE} VERSION AS OF {{v}}",
        },
        "writer": ops,
        "readers": readers,
    }


def _operators(rng, seconds):
    passes = []
    for _ in range(max(2, round(seconds / OPERATOR_PASS_SECONDS))):
        p = list(OPERATOR_QUERIES)
        rng.shuffle(p)
        passes.append(p)
    return {"passes": passes}


WORKLOADS = {
    "served_ingest_dashboard": _ingest,
    "operator_pipeline": _operators,
}


def make_plan(workload, seed, seconds):
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}; "
                         f"known: {', '.join(sorted(WORKLOADS))}")
    rng = random.Random(f"{workload}:{seed}")
    plan = WORKLOADS[workload](rng, seconds)
    plan.update({"workload": workload, "seed": seed, "seconds": seconds})
    return plan
