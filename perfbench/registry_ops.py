"""olap_read: registered query ids in seeded order.

Each op is ``fn(spark, sf_dir)`` (the build) followed by a ``noop``
write of the returned frame (the execution). A pass runs every id of
the workload once, in an order drawn from the seed; the timed loop
runs whole passes, so every run measures the same multiset of ops.
The operator ids follow from ``olap_profile.json`` by ``choose``.
"""

from __future__ import annotations

import bisect
import json
import random
import statistics
import time
import traceback
from pathlib import Path

import duckdb

MIN_PASSES = 3
PROFILE = Path(__file__).resolve().parent / "olap_profile.json"
OPERATOR_MODULES = ("aggregates", "composite", "joins", "windows")
# join_bucket_smb saves a bucketed table under the session's warehouse
# dir, a write outside the checkout; every other id there only reads
WRITES_OUTSIDE = ("join_bucket_smb",)
# the profile measures olap_read's ids are chosen to match
MEASURES = ("wall_s", "jobs", "shuffle_bytes", "plan_s")
N_OPERATOR_IDS = 6
# one id per LLM-pipeline extension module keeps the driver-side
# extension layers in the mix
EXT_IDS = (
    "ext_dedup_exact",
    "ext_emb_random_projection",
    "ext_pipeline_sft",
    "ext_text_lang_stats",
)
OLAP_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "documents", "embeddings")


def candidates(queries) -> list[str]:
    """The read-only ids of ``operators.{aggregates,composite,joins,
    windows}``: the set olap_read's operator ids are drawn from."""
    return sorted(q for q, fn in queries.items()
                  if fn.__module__.rsplit(".", 1)[-1] in OPERATOR_MODULES
                  and q not in WRITES_OUTSIDE)


def _ranks(values: dict[str, float]) -> dict[str, float]:
    """Mid-rank of each id in 0..1 (ties share their mean rank)."""
    xs = sorted(values.values())
    n = len(xs)
    return {k: (bisect.bisect_left(xs, v) + bisect.bisect_right(xs, v) - 1)
            / (2 * (n - 1)) for k, v in values.items()}


def _quartiles(xs) -> list[float]:
    return statistics.quantiles(xs, n=4, method="inclusive")


def choose(profile: dict[str, dict]) -> tuple:
    """The N_OPERATOR_IDS operator ids whose spread matches the full candidate set.

    Each id's value of every measure in MEASURES becomes its mid-rank
    among all candidates. The cost of a set is the summed distance
    between its quartiles and the candidates' quartiles of those ranks,
    over every measure. Ids are added greedily (cheapest set first, ties
    by name), then single swaps that lower the cost are made until none
    does."""
    ids = sorted(q for q, row in profile.items() if row["ok"])
    ranks = {m: _ranks({q: profile[q][m] for q in ids}) for m in MEASURES}
    want = {m: _quartiles(ranks[m].values()) for m in MEASURES}

    def cost(sel) -> float:
        if len(sel) < 2:
            return sum(abs(ranks[m][q] - want[m][1])
                       for m in MEASURES for q in sel)
        return sum(abs(a - b) for m in MEASURES for a, b in
                   zip(_quartiles([ranks[m][q] for q in sel]), want[m]))

    sel: list[str] = []
    while len(sel) < N_OPERATOR_IDS:
        sel.append(min((q for q in ids if q not in sel),
                       key=lambda q: (cost(sel + [q]), q)))
    improved = True
    while improved:
        improved = False
        for i in range(N_OPERATOR_IDS):
            for q in ids:
                if q in sel:
                    continue
                trial = sel[:i] + [q] + sel[i + 1:]
                if cost(trial) < cost(sel) - 1e-12:
                    sel, improved = trial, True
    return tuple(sorted(sel))


def olap_ids() -> tuple:
    """The workload's ids: ``choose`` over the committed profile, then
    the extension ids."""
    profile = json.loads(PROFILE.read_text())["ids"]
    return choose(profile) + EXT_IDS


def layer_of(fn) -> str:
    """``operators.joins`` / ``extensions.dedup``: the registering module."""
    return ".".join(fn.__module__.split(".")[-2:])


def run_pass(spark, sf_dir, tracer, queries, order, samples) -> None:
    for qid in order:
        fn = queries[qid]
        layer = layer_of(fn)
        build, ok = 0.0, True
        with tracer.op(qid, layer) as span:
            t0 = time.perf_counter()
            try:
                with tracer.phase("build", layer):
                    df = fn(spark, sf_dir)
                    build = time.perf_counter() - t0
                with tracer.phase("exec", layer):
                    df.write.format("noop").mode("overwrite").save()
            except Exception:  # counted, never fatal
                traceback.print_exc()
                ok = False
            wall = time.perf_counter() - t0
        sample = {"id": qid, "layer": layer, "wall": wall, "build": build,
                  "ok": ok}
        if span is not None and ok:
            sample["spark"] = span.attrs["spark"]
            with tracer.bookkeeping():
                sample["spark"]["plan_s"] = tracer.status.plan_seconds(df)
            sample["traced"] = True
        samples.append(sample)


def run(ctx, ids, tables) -> dict:
    """Set up, warm up (collecting outputs), time whole passes, check."""
    from layer_apache_hive_spark.catalog import TABLES, table_path
    from layer_apache_hive_spark.oracle_compare import compare_frames
    from layer_apache_hive_spark.registry import all_oracles, all_queries

    spark = ctx.setup(lambda spark: ctx.warm_tables(spark, tables))
    queries = all_queries()
    tracer = ctx.tracer(spark)

    # untimed warm-up: one pass collecting the outputs the check compares
    outputs = {}
    for qid in ids:
        try:
            outputs[qid] = queries[qid](spark, ctx.sf_dir).toPandas()
        except Exception:  # the timed passes count it; never fatal
            traceback.print_exc()
            outputs[qid] = None

    ctx.mark("warmup")
    rng = random.Random(ctx.seed)
    samples: list[dict] = []
    passes: list[tuple[bool, float]] = []
    start = ctx.meter()
    while True:
        order = list(ids)
        rng.shuffle(order)
        tracer.enabled = ctx.trace and len(passes) % 2 == 1
        tp = time.perf_counter()
        run_pass(spark, ctx.sf_dir, tracer, queries, order, samples)
        passes.append((tracer.enabled, time.perf_counter() - tp))
        if ctx.done(time.perf_counter() - start[0], len(passes), MIN_PASSES):
            break
    measured = ctx.measured(start)
    tracer.enabled = False
    ctx.mark("measure")

    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{table_path(ctx.sf_dir, name)}')"
        )
    oracles = all_oracles()
    problems, unchecked = {}, []
    for qid in ids:
        if outputs[qid] is None:
            # the timed passes ran and counted this id; its output is
            # unchecked, which the summary names
            unchecked.append(qid)
            continue
        p = compare_frames(outputs[qid], con.execute(oracles[qid]).df())
        if not p and len(outputs[qid]) == 0:
            p = ["vacuous: 0 rows on both engines"]
        if p:
            problems[qid] = p
    con.close()
    ctx.mark("check")
    return {
        "samples": samples,
        **measured,
        "passes": passes,
        "problems": problems,
        "unchecked": unchecked,
        "tracer": tracer,
    }
