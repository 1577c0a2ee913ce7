"""acid_wire: seeded transactional DML and snapshot reads on two
hive-ACID tables, driven through ``TxnSessionManager.handle``.

``bench_flat`` is unpartitioned, ``bench_part`` is partitioned by
``o_orderstatus``; both start as the sf0.1 orders with
``o_orderkey < N_KEYS``. One client thread runs the stream of
``acid_stream.rounds``; after every writing unit each table's
``HiveAcidInitiator`` runs one inline pass at Hive's default thresholds
(10 deltas, 10 % delta bytes). The first round is an untimed warm-up.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback

import pyarrow as pa

from acid_model import AcidModel, digest_sql
from acid_stream import FLAT, PART, SRC, STATUSES, Op, rounds

N_KEYS = 16_000
MIN_ROUNDS = 2
SCHEMA = [("o_orderkey", "long"), ("o_orderstatus", "string"),
          ("o_totalprice", "double")]
FIELDS = [("o_orderkey", pa.int64()), ("o_orderstatus", pa.string()),
          ("o_totalprice", pa.float64())]
PART_SCHEMA = [("o_orderkey", "long"), ("o_totalprice", "double")]
PART_FIELDS = [("o_orderkey", pa.int64()), ("o_totalprice", pa.float64())]
NAMES = {"flat": FLAT, "part": PART}


def du(root: str) -> tuple[int, int, int]:
    """(bytes, ACID dirs, files) under ``root``."""
    size = dirs = files = 0
    for d, subdirs, fnames in os.walk(root):
        dirs += sum(s.startswith(("base_", "delta_", "delete_delta_"))
                    for s in subdirs)
        for f in fnames:
            files += 1
            size += os.path.getsize(os.path.join(d, f))
    return size, dirs, files


def acid_dirs(root: str) -> dict[str, int]:
    """ACID dir path -> bytes, for every base/delta dir under ``root``."""
    out = {}
    for d, subdirs, _ in os.walk(root):
        for s in subdirs:
            if s.startswith(("base_", "delta_", "delete_delta_")):
                p = os.path.join(d, s)
                out[p] = sum(
                    os.path.getsize(os.path.join(p, f)) for f in os.listdir(p)
                )
    return out


class Tables:
    """The manager, the two initiators and the table roots of one setup."""

    def __init__(self, spark, sf_dir: str, root: str):
        from layer_apache_hive_spark.acid import TransactionCatalog
        from layer_apache_hive_spark.catalog import read_table
        from layer_apache_hive_spark.sources.hive_acid import (
            HiveAcidInitiator,
            HiveWriteIdLedger,
        )
        from layer_apache_hive_spark.txn import TxnSessionManager

        shutil.rmtree(root, ignore_errors=True)
        self.roots = {"flat": f"{root}/flat", "part": f"{root}/part"}
        for r in self.roots.values():
            os.makedirs(r)
        self.spark = spark
        self.mgr = TxnSessionManager(
            spark,
            TransactionCatalog(f"{root}/cat"),
            publish=False,
            ledger=HiveWriteIdLedger(f"{root}/ledger.jsonl"),
        )
        # one bucket: a table this small is one bucket file per directory
        self.mgr.enroll_hive_acid(FLAT, self.roots["flat"], SCHEMA, FIELDS,
                                  n_buckets=1, serve=False)
        self.mgr.enroll_hive_acid(PART, self.roots["part"], PART_SCHEMA,
                                  PART_FIELDS, n_buckets=1, serve=False,
                                  partition_col="o_orderstatus")
        read_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        ).createOrReplaceTempView(SRC)
        # the flat table starts as a base (INSERT OVERWRITE); the
        # partitioned one as one delta per partition, each queued for a
        # major fold, which also enrolls the partition with the initiator
        ledger = self.mgr.ledger
        self.init = {"flat": HiveAcidInitiator(spark),
                     "part": HiveAcidInitiator(spark)}
        self.mgr.initiator = self.init["part"]
        seed = f"FROM {SRC} WHERE o_orderkey < {N_KEYS}"
        for stmt in (
            f"INSERT OVERWRITE {FLAT} SELECT o_orderkey, o_orderstatus, "
            f"o_totalprice {seed}",
            f"INSERT INTO {PART} SELECT o_orderkey, o_totalprice, "
            f"o_orderstatus {seed}",
            *(f"ALTER TABLE {PART} PARTITION (o_orderstatus='{s}') "
              "COMPACT 'major'" for s in STATUSES),
        ):
            out = self.mgr.handle("setup", stmt)
            if not out.startswith("DONE:"):
                raise RuntimeError(f"setup statement failed: {stmt}: {out}")
        # one initiator per layout, so each pass is timed on its own
        flat = self.roots["flat"]
        self.init["flat"].enroll(
            flat, SCHEMA, FIELDS,
            valid_writeids_fn=lambda: ledger.valid_writeids(flat, table=FLAT),
            visibility_fn=ledger.next_visibility_txn,
        )

    def valid_writeids(self, table: str):
        return self.mgr.ledger.valid_writeids(self.roots[table],
                                              table=NAMES[table])

    def snapshot(self, table: str, vw=None):
        """The frame of ``table`` at snapshot ``vw`` (default: the
        ledger's current one)."""
        from layer_apache_hive_spark.sources.hive_acid import (
            read_hive_acid,
            read_hive_acid_partitioned,
        )

        root = self.roots[table]
        if vw is None:
            vw = self.valid_writeids(table)
        if table == "flat":
            return read_hive_acid(self.spark, root, SCHEMA, valid_writeids=vw)
        return read_hive_acid_partitioned(
            self.spark, root, PART_SCHEMA, "o_orderstatus", valid_writeids=vw
        )

    def read(self, table: str, tracer) -> tuple[tuple[int, ...], dict]:
        """Ledger-pinned snapshot read; returns (digest, layer times)."""
        t0 = time.perf_counter()
        with tracer.phase("valid_writeids", "sources.hive_acid"):
            vw = self.valid_writeids(table)
        t1 = time.perf_counter()
        with tracer.phase("read", "sources.hive_acid"):
            self.snapshot(table, vw).createOrReplaceTempView("bench_read")
            row = self.spark.sql(digest_sql("bench_read")).collect()[0]
        t2 = time.perf_counter()
        return tuple(int(v) for v in row), {"vwil_s": t1 - t0,
                                            "read_s": t2 - t0}


def verb(op: Op, in_block: bool) -> str:
    if op.kind in ("insert", "update", "delete", "merge") and in_block:
        return "buffered"
    return op.kind


def run(ctx) -> dict:
    holder: dict = {}

    def setup(spark):
        n = holder.get("rep", 0)
        holder["rep"] = n + 1
        # keep only the newest setup's tables on disk
        shutil.rmtree(f"{ctx.work}/acid{n - 1}", ignore_errors=True)
        ctx.warm_tables(spark, ["orders"])
        holder["tables"] = Tables(spark, ctx.sf_dir, f"{ctx.work}/acid{n}")

    spark = ctx.setup(setup)
    tables: Tables = holder["tables"]
    tracer = ctx.tracer(spark)
    log: list[dict] = []
    open_block: set[str] = set()

    def step(op: Op, unit: int) -> dict:
        v = verb(op, op.session in open_block)
        rec = {"op": op, "verb": v, "unit": unit, "layer": "txn"}
        if tracer.enabled:
            with tracer.bookkeeping():
                before = {t: du(r)[0] for t, r in tables.roots.items()}
        with tracer.op(f"{v}:{op.table}", "txn") as span:
            t0 = time.perf_counter()
            if op.kind == "read":
                rec["layer"] = "sources.hive_acid"
                try:
                    rec["digest"], rec["times"] = tables.read(op.table,
                                                              tracer)
                    answer = "DONE:read"
                except Exception as e:  # counted, never fatal
                    answer = f"ERR_READ:{e}"
            else:
                answer = tables.mgr.handle(op.session, op.sql())
            rec["wall"] = time.perf_counter() - t0
        rec["answer"] = answer[:300]
        want = "ACTIVE:" if op.kind == "begin" or v == "buffered" else "DONE:"
        rec["ok"] = answer.startswith(want)
        if op.kind == "begin" and rec["ok"]:
            open_block.add(op.session)
        elif op.kind == "commit":
            open_block.discard(op.session)
        if span is not None:
            rec["spark"] = span.attrs["spark"]
            rec["traced"] = True
            r, n, f = {}, {}, {}
            with tracer.bookkeeping():
                for t, root in tables.roots.items():
                    r[t], n[t], f[t] = du(root)
            rec["bytes_added"] = {t: r[t] - before[t] for t in r}
            if op.kind == "read":
                rec["dirs"], rec["files"] = n[op.table], f[op.table]
        return rec

    def compact(table: str) -> dict:
        before = {}
        if tracer.enabled:
            with tracer.bookkeeping():
                before = acid_dirs(tables.roots[table])
        with tracer.op(f"compact:{table}", "sources.hive_acid") as span:
            t0 = time.perf_counter()
            try:
                done = tables.init[table].run_once()
            except Exception:  # logged, never fatal; reads still check
                traceback.print_exc()
                done = []
            wall = time.perf_counter() - t0
        rec = {"verb": "compact", "table": table, "layer": "sources.hive_acid",
               "wall": wall, "compactions": len(done)}
        if span is not None:
            with tracer.bookkeeping():
                after = acid_dirs(tables.roots[table])
            rec["spark"] = span.attrs["spark"]
            rec["traced"] = True
            rec["rewritten"] = sum(
                b for p, b in after.items() if p not in before
            )
        return rec

    n_units = 0

    def run_round(units: list[list[Op]], warmup: bool = False) -> None:
        nonlocal n_units
        for unit in units:
            n_units += 1
            recs = [step(op, n_units) for op in unit]
            if unit[0].kind != "read":
                # Hive's initiator cadence, inline: a pass after every
                # writing unit, folding whatever crossed a threshold
                recs += [compact(t) for t in tables.roots]
            for rec in recs:
                rec["warmup"] = warmup
            log.extend(recs)

    stream = rounds(ctx.seed, N_KEYS)
    # warm-up: the queued partition folds, then the warm-up round
    log.extend(compact(t) | {"warmup": True} for t in tables.roots)
    run_round(next(stream), warmup=True)
    ctx.mark("warmup")
    n_rounds = 0
    rounds_wall: list[tuple[bool, float]] = []
    start = ctx.meter()
    while True:
        tracer.enabled = ctx.trace and n_rounds % 2 == 1
        tr = time.perf_counter()
        run_round(next(stream))
        n_rounds += 1
        rounds_wall.append((tracer.enabled, time.perf_counter() - tr))
        if ctx.done(time.perf_counter() - start[0], n_rounds, MIN_ROUNDS):
            break
    measured = ctx.measured(start)
    tracer.enabled = False
    ctx.mark("measure")

    problems, space_amp = check(ctx, tables, log)
    ctx.mark("check")
    return {
        "log": log,
        **measured,
        "passes": rounds_wall,
        "problems": problems,
        "space_amp": space_amp,
        "tracer": tracer,
    }


def client_ops(records: list[dict]) -> list[dict]:
    """The end-to-end ops: one per autocommit statement, read, and
    transaction (a session's statements within one unit, so each side
    of an interleaved pair is its own op). Wall sums its statements."""
    ops: dict[tuple[int, str], dict] = {}
    for r in records:
        if "op" not in r:
            continue
        key = (r["unit"], r["op"].session)
        o = ops.setdefault(key, {"wall": 0.0, "ok": True, "verb": r["verb"]})
        o["wall"] += r["wall"]
        o["ok"] = o["ok"] and r["ok"]
        if r["op"].kind == "begin":
            o["verb"] = "txn"
    return list(ops.values())


def check(ctx, tables: Tables, log: list[dict]) -> tuple[dict, float]:
    """Replay acknowledged statements on the model in commit order and
    compare every read's digest with it, then both final tables row by
    row. Annotates each committing record with the rows it changed per
    table. Returns (problems, space amplification)."""
    from layer_apache_hive_spark.catalog import table_path
    from layer_apache_hive_spark.oracle_compare import compare_frames

    model = AcidModel(table_path(ctx.sf_dir, "orders"), N_KEYS)
    problems: dict[str, list[str]] = {}
    pending: dict[str, list[dict]] = {}
    try:
        for i, rec in enumerate(log):
            op = rec.get("op")
            if op is None or not rec["ok"]:
                if op is not None and op.kind == "commit":
                    pending.pop(op.session, None)
                continue
            if op.kind == "begin":
                pending[op.session] = []
            elif rec["verb"] == "buffered":
                pending[op.session].append(rec)
            elif op.kind == "commit":
                rec["rows"] = model.commit(
                    [r["op"] for r in pending.pop(op.session, [])])
            elif op.kind == "read":
                want = model.digest(op.table)
                if rec["digest"] != want:
                    problems[f"read#{i}:{op.table}"] = [
                        f"digest engine={rec['digest']} model={want}"
                    ]
            else:
                rec["rows"] = model.commit([op])
        for t in ("flat", "part"):
            p = compare_frames(tables.snapshot(t).toPandas(), model.frame(t))
            if p:
                problems[f"final:{t}"] = p
        base = 0
        for t in ("flat", "part"):
            path = f"{ctx.work}/expected_{t}.parquet"
            model.write_parquet(t, path)
            base += os.path.getsize(path)
        on_disk = sum(du(r)[0] for r in tables.roots.values())
    finally:
        model.close()
    return problems, on_disk / base
