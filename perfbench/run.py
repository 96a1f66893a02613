"""Benchmark of the lakehouse engine: one workload per run, one process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/README.md for why each was chosen):

* ``pipeline``     recorded-API pages -> bronze -> silver -> the 10 reference
                   questions (``app.QUESTIONS``), into an empty directory.
* ``headline_sql`` the 16 frozen headline queries (``bench.HEADLINE``) over
                   catalog tables: 11 relational, 5 LLM-corpus.

Every input is generated from ``--seed`` under ``perfbench/.work`` (cached per
seed).  A run starts the session at ``local[<nproc>]``, checks every output
once (untimed; this is also the JVM's warm-up), sets up several times, runs
untimed warm-up passes and then measures a fixed number of full passes of
the workload.  ``--seconds`` is accepted for the command contract; the pass
count does not depend on it, so a slow host does not change how many samples
a run takes.  ``--trace 0`` prints the end-to-end metrics; ``--trace 1``
measures an untraced half and a traced half (event log, one job group per op
phase, a py4j call counter) and prints the per-layer metrics.
The last stdout line is the result JSON; a ledger of every sample and the
host state goes to ``perfbench/.work/ledger``.
"""

from __future__ import annotations

import argparse
import json
import math
import multiprocessing
import os
import pickle
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# bench.HEADLINE: the 11 relational queries, then the 5 LLM-corpus ones.
# "passes" is the number of measured passes.  The pipeline's CPU per pass
# keeps falling for about six passes after the check (JIT: 13 -> 7 CPU
# seconds), and its passes are short, so it warms up three more passes and
# measures six: 72 op samples put op_cpu_tail_s (10 samples beyond) inside
# its 12 ingest/migrate samples instead of on the edge between those and
# the ten small question ops.  headline_sql's first pass on a new session
# costs about a third more CPU than its next ones (Python workers start, JIT
# still compiling), so it warms up one pass and measures two: as long as
# three measured passes, without the heaviest one.
# headline_sql's "rows" lift orders, events, documents and embeddings just
# past the sizes at which catalog.load compacts them into two or more files
# (20,000-row chunks; documents 2,500-row chunks; embeddings split to cores
# in >= 192 KiB files), so the layout code and multi-task scans run.
WORKLOADS = {
    "pipeline": {"kind": "pipeline", "corpus": (6, 10, 10), "warmup_passes": 3, "passes": 6},
    "headline_sql": {
        "kind": "sql", "sf": 0.01, "warmup_passes": 1, "passes": 2,
        "rows": {"orders": 25_000, "events": 25_000, "documents": 3_000, "embeddings": 1_100},
        "tables": ["customer", "orders", "lineitem", "events", "nation", "region", "documents", "embeddings"],
    },
}
# --tiny: the smoke self-test's sizes
TINY = {"pipeline": {"corpus": (3, 4, 3)}, "sql": {"sf": 0.001, "rows": {}}}
SETUP_REPS = 5
TAIL_BEYOND = 10  # op_cpu_tail_s: highest percentile with >= this many samples beyond it


def now() -> float:
    return time.perf_counter()


def _spin(n: int) -> int:
    x = 0
    for i in range(n):
        x += i
    return x


def cpu_probe(ncpu: int, n: int = 3_000_000) -> dict:
    """Fixed work, outside every timer: one single-thread spin, then the
    same spin on every core at once."""
    t0 = now()
    _spin(n)
    single = now() - t0
    pool = multiprocessing.get_context("fork").Pool(ncpu)
    try:
        t0 = now()
        pool.map(_spin, [n] * ncpu)
        all_cores = now() - t0
    finally:
        pool.close()
        pool.join()
    return {"spin_iters": n, "single_thread_s": round(single, 4), "all_cores_s": round(all_cores, 4)}


CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpu_seconds(c0: dict | None, c1: dict | None) -> float:
    """CPU time every process of the machine got between two
    ``bench.cpu_sample`` readings (busy jiffies; steal excluded)."""
    return (c1["busy"] - c0["busy"]) / CLK_TCK if c0 and c1 else 0.0


def steal_free(wall: float, c0: dict | None, c1: dict | None) -> float:
    """Wall time less the share of the machine's CPU time the hypervisor
    stole from it: ``wall * busy / (busy + steal)`` over the interval."""
    if not c0 or not c1:
        return wall
    busy, steal = c1["busy"] - c0["busy"], c1["steal"] - c0["steal"]
    return wall * busy / (busy + steal) if busy + steal else wall


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest whole percentile that leaves at least
    TAIL_BEYOND samples above it."""
    n = len(values)
    pct = max(0, math.floor(100 * (n - TAIL_BEYOND) / n)) if n > TAIL_BEYOND else 50
    return pct, quantile(values, pct / 100)


def dir_stats(path: str) -> dict:
    """Parquet files, partition directories, bytes and rows under ``path``."""
    import pyarrow.parquet as pq

    files = dirs = size = rows = 0
    for root, dnames, fnames in os.walk(path):
        dirs += sum("=" in d for d in dnames)
        for f in fnames:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                files += 1
                size += os.path.getsize(p)
                rows += pq.ParquetFile(p).metadata.num_rows
    return {"files": files, "partition_dirs": dirs, "bytes": size, "rows": rows}


def _keep_latest(parent: str, keep: str, n: int = 2) -> None:
    """Delete all but the ``n`` most recently used input dirs under ``parent``
    (plus the compacted copies recorded beside each)."""
    dirs = sorted(
        (os.path.join(parent, d) for d in os.listdir(parent) if not d.startswith(".")),
        key=os.path.getmtime,
        reverse=True,
    )
    for d in [d for d in dirs if d != keep][n - 1 :]:
        try:
            with open(os.path.join(d, "_compacted.json")) as fh:
                for c in json.load(fh):
                    shutil.rmtree(c, ignore_errors=True)
        except (OSError, ValueError):
            pass
        shutil.rmtree(d, ignore_errors=True)


class Op:
    """One timed operation: ``build()`` makes the object, ``run(obj)``
    executes it.  A DataFrame result can be planned separately (traced runs)."""

    def __init__(self, name, build, run, plannable=False):
        self.name, self.build, self.run, self.plannable = name, build, run, plannable


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


class SqlWorkload:
    """Catalog queries over the generated sf tables."""

    def __init__(self, cfg: dict, seed: int, tiny: bool) -> None:
        import __spark_entry__ as entry
        import bench

        self.sf, self.rows = (TINY["sql"]["sf"], TINY["sql"]["rows"]) if tiny else (cfg["sf"], cfg["rows"])
        self.names, self.tables, self.seed = bench.HEADLINE, cfg["tables"], seed
        self.fns = entry.queries()
        self.oracle = entry.oracle_sql()
        parent = os.path.join(WORK, "tables")
        sized = "".join(f"-{t}{n}" for t, n in sorted(self.rows.items()))
        self.dir = os.path.join(parent, f"sf{self.sf}{sized}-seed{seed}")
        os.makedirs(parent, exist_ok=True)
        self._parent = parent

    def prepare(self) -> None:
        import gen_tables

        if not os.path.exists(os.path.join(self.dir, "embeddings.parquet")):
            gen_tables.write_tables(self.dir, self.seed, self.sf, self.rows)
        os.utime(self.dir)
        _keep_latest(self._parent, self.dir)
        # DuckDB computes the oracle answers while the session starts and
        # primes (both untimed); check() waits for it
        self._oracle_thread = threading.Thread(target=self._all_expected, daemon=True)
        self._oracle_thread.start()

    def _all_expected(self) -> None:
        try:
            for n in self.names:
                self._expected(n)
        except Exception:  # check() recomputes, and reports the error there
            pass

    def _optimized(self) -> set[str]:
        d = os.path.join(ROOT, "spark-warehouse", "optimized")
        return {os.path.join(d, x) for x in os.listdir(d)} if os.path.isdir(d) else set()

    def prime(self, spark) -> None:
        """Untimed: build the catalog's compacted layouts for this input."""
        from youtube_data_lakehouse_and_analysis_spark import catalog

        before = self._optimized()
        for t in self.tables:
            catalog.load(spark, self.dir, t)
        made = sorted(self._optimized() - before)
        if made:
            path = os.path.join(self.dir, "_compacted.json")
            try:
                with open(path) as fh:
                    made = sorted(set(made) | set(json.load(fh)))
            except (OSError, ValueError):
                pass
            with open(path, "w") as fh:
                json.dump(made, fh)

    def open(self, spark) -> int:
        """Timed set-up step: open every table the workload reads.  Returns
        the number of compacted layouts rebuilt on the way (0 when primed)."""
        from youtube_data_lakehouse_and_analysis_spark import catalog

        before = self._optimized()
        for t in self.tables:
            catalog.load(spark, self.dir, t)
        return len(self._optimized() - before)

    def ops(self, spark, pass_id: str) -> list[Op]:
        return [
            Op(n, (lambda fn=self.fns[n]: fn(spark, self.dir)), noop, plannable=True) for n in self.names
        ]

    def _expected(self, name: str):
        """DuckDB oracle rows in verify_local's canonical form, cached per input."""
        import duckdb
        import verify_local

        path = os.path.join(self.dir, "_oracle", f"{name}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as fh:
                return pickle.load(fh)
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            for t in ("region nation customer supplier part orders lineitem events documents embeddings").split():
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.dir}/{t}.parquet')")
            res = con.execute(self.oracle[name])
            cols = [d[0] for d in res.description]
            out = (sorted(cols), len(rows := res.fetchall()), verify_local.rows_multiset(cols, rows))
        finally:
            con.close()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "wb") as fh:
            pickle.dump(out, fh)
        os.replace(path + ".tmp", path)
        return out

    def check(self, spark, log: dict) -> tuple[int, int]:
        """Untimed warm-up pass: collect every query and compare it with the
        DuckDB oracle under verify_local's strict canonical rules."""
        import verify_local

        self._oracle_thread.join()
        failed = 0
        for n in self.names:
            try:
                df = self.fns[n](spark, self.dir)
                cols, rows = df.columns, [tuple(r) for r in df.collect()]
                got = (sorted(cols), len(rows), verify_local.rows_multiset(cols, rows))
                ok = got == self._expected(n)
            except Exception as exc:  # counted as a failed operation
                ok = False
                log.setdefault("errors", []).append(f"check {n}: {exc}"[:500])
            log.setdefault("checks", {})[n] = ok
            failed += not ok
        return len(self.names), failed

    def before_pass(self, pass_id: str) -> None:
        pass

    def layer_probe(self, spark, out: dict) -> None:
        pass

    def finish(self) -> None:
        pass


class PipelineWorkload:
    """Recorded API pages -> bronze -> silver -> the 10 reference questions."""

    def __init__(self, cfg: dict, seed: int, tiny: bool) -> None:
        self.corpus = TINY["pipeline"]["corpus"] if tiny else cfg["corpus"]
        c, v, k = self.corpus
        parent = os.path.join(WORK, "api")
        os.makedirs(parent, exist_ok=True)
        self._parent, self.seed = parent, seed
        self.dir = os.path.join(parent, f"c{c}v{v}k{k}-seed{seed}")
        self.out_root = os.path.join(WORK, "out", str(os.getpid()))
        self.tables: dict = {}

    def prepare(self) -> None:
        import gen_api

        exp_path = os.path.join(self.dir, "_expected.pkl")
        if not os.path.exists(exp_path):
            pages = os.path.join(self.dir, "pages")
            exp = gen_api.write_corpus(pages, self.seed, *self.corpus)
            with open(exp_path, "wb") as fh:
                pickle.dump(exp, fh)
        with open(exp_path, "rb") as fh:
            self.expected = pickle.load(fh)
        os.utime(self.dir)
        _keep_latest(self._parent, self.dir)
        for pid in os.listdir(os.path.dirname(self.out_root)):  # outputs of runs that died
            if not os.path.exists(f"/proc/{pid}"):
                shutil.rmtree(os.path.join(os.path.dirname(self.out_root), pid), ignore_errors=True)

    def prime(self, spark) -> None:
        self.open(spark)  # loads the reader classes once, outside the timed set-ups

    def _readers(self, spark) -> dict:
        from youtube_data_lakehouse_and_analysis_spark.sources import youtube_api as yt

        p = os.path.join(self.dir, "pages")
        return {
            "channel": yt.read_channels(spark, f"{p}/channels"),
            "playlist": yt.read_playlists(spark, f"{p}/playlists"),
            "video": yt.read_videos(spark, f"{p}/videos"),
            "comment": yt.read_comments(spark, f"{p}/comments"),
        }

    def open(self, spark) -> int:
        """Timed set-up step: open the recorded pages (file listing)."""
        self._readers(spark)
        return 0

    def out_dir(self, pass_id: str) -> str:
        return os.path.join(self.out_root, pass_id)

    def ops(self, spark, pass_id: str) -> list[Op]:
        from youtube_data_lakehouse_and_analysis_spark.app import QUESTIONS
        from youtube_data_lakehouse_and_analysis_spark.plans.silver import migrate, read_silver
        from youtube_data_lakehouse_and_analysis_spark.schemas import ENTITIES
        from youtube_data_lakehouse_and_analysis_spark.sources.bronze import write_bronze

        out = self.out_dir(pass_id)
        bronze, silver = os.path.join(out, "bronze"), os.path.join(out, "silver")

        def do_migrate(_):
            migrate(spark, bronze, silver)
            self.tables = {e: read_silver(spark, silver, e) for e in ENTITIES}

        ops = [
            Op("ingest", lambda: self._readers(spark), lambda dfs: write_bronze(dfs, bronze)),
            Op("migrate", lambda: None, do_migrate),
        ]
        for i, (_label, fn) in enumerate(QUESTIONS, start=1):
            ops.append(Op(f"q{i}", (lambda fn=fn: fn(self.tables)), noop, plannable=True))
        return ops

    def before_pass(self, pass_id: str) -> None:
        shutil.rmtree(self.out_root, ignore_errors=True)

    def finish(self) -> None:
        shutil.rmtree(self.out_root, ignore_errors=True)

    def _silver_counts(self, out: str) -> dict:
        """Rows of every silver table, from the parquet footers migrate wrote."""
        from youtube_data_lakehouse_and_analysis_spark.schemas import ENTITIES

        return {e: dir_stats(os.path.join(out, "silver", e))["rows"] for e in ENTITIES}

    def check(self, spark, log: dict) -> tuple[int, int]:
        """Untimed: one pass whose silver counts and question answers are
        compared with the generator's expectations, then one re-ingest over
        the same output that must leave every silver count unchanged."""
        failed = attempted = 0
        checks = log.setdefault("checks", {})
        self.before_pass("check")
        ops = self.ops(spark, "check")
        try:
            for op in ops[:2]:
                op.run(op.build())
            counts = self._silver_counts(self.out_dir("check"))
            checks["silver_rows"] = counts == self.expected["silver_rows"]
        except Exception as exc:
            log.setdefault("errors", []).append(f"check pipeline: {exc}"[:500])
            return len(ops) + 1, len(ops) + 1
        attempted += 4  # ingest, migrate, silver counts, re-ingest
        failed += not checks["silver_rows"]
        for op in ops[2:]:
            attempted += 1
            try:
                rows = [tuple(r) for r in op.build().collect()]
                ok = _same_rows(rows, self.expected["answers"][op.name])
            except Exception as exc:
                ok = False
                log.setdefault("errors", []).append(f"check {op.name}: {exc}"[:500])
            checks[op.name] = ok
            failed += not ok
        try:
            for op in self.ops(spark, "check")[:2]:
                op.run(op.build())
            checks["reingest_idempotent"] = self._silver_counts(self.out_dir("check")) == counts
        except Exception as exc:
            checks["reingest_idempotent"] = False
            log.setdefault("errors", []).append(f"re-ingest: {exc}"[:500])
        failed += not checks["reingest_idempotent"]
        return attempted, failed

    def layer_probe(self, spark, out: dict) -> None:
        """Traced runs only, after a pass: per-layer numbers the pass itself
        does not separate (parse time, bronze listing, on-disk shape)."""
        from youtube_data_lakehouse_and_analysis_spark.sources.bronze import read_bronze

        dfs = self._readers(spark)
        t0 = now()
        for df in dfs.values():
            noop(df)
        out["sources.parse_s"] = now() - t0
        out["sources.rows"] = sum(df.count() for df in dfs.values())
        last = self.out_dir(self.last_pass)
        t0 = now()
        for e in dfs:
            read_bronze(spark, os.path.join(last, "bronze"), e)
        out["bronze.open_s"] = now() - t0
        for layer in ("bronze", "silver"):
            for k, v in dir_stats(os.path.join(last, layer)).items():
                if layer == "bronze" or k != "partition_dirs":
                    out[f"{layer}.{k}"] = v


def _canon(v):
    return round(v, 9) if isinstance(v, float) else v


def _same_rows(got: list[tuple], want: list[tuple]) -> bool:
    key = lambda r: tuple((x is None, str(type(x)), x) for x in r)  # noqa: E731
    return sorted((tuple(map(_canon, r)) for r in got), key=key) == sorted(
        (tuple(map(_canon, r)) for r in want), key=key
    )


def run_pass(spark, wl, pass_id: str, tracer, bench) -> dict:
    """One full pass of the workload.  With a tracer, every op phase runs
    under its own job group and build-side py4j calls are counted."""
    from tracing import phase

    wl.before_pass(pass_id)
    wl.last_pass = pass_id
    ops = wl.ops(spark, pass_id)
    rec = {"ops": {}, "failed": 0}
    c0 = bench.cpu_sample()
    t_pass = now()
    for op in ops:
        g = (lambda ph: f"{pass_id}|{op.name}|{ph}") if tracer else (lambda ph: None)
        j0 = bench.cpu_sample()
        t0 = now()
        try:
            with phase(spark, g("build")):
                calls0 = tracer.calls if tracer else 0
                obj = op.build()
                calls = tracer.calls - calls0 if tracer else 0
            t1 = now()
            if tracer and op.plannable:
                with phase(spark, g("plan")):
                    obj._jdf.queryExecution().executedPlan()
            t2 = now()
            with phase(spark, g("exec")):
                op.run(obj)
            t3 = now()
        except Exception as exc:
            rec["failed"] += 1
            rec.setdefault("errors", []).append(f"{op.name}: {exc}"[:500])
            continue
        j1 = bench.cpu_sample()
        rec["ops"][op.name] = {
            "s": t3 - t0, "cpu_s": cpu_seconds(j0, j1), "steal_free_s": steal_free(t3 - t0, j0, j1),
            "build_s": t1 - t0, "plan_s": t2 - t1, "exec_s": t3 - t2, "py4j": calls,
        }
    rec["s"] = now() - t_pass
    c1 = bench.cpu_sample()
    rec["cpu_s"] = cpu_seconds(c0, c1)
    rec["steal_free_s"] = steal_free(rec["s"], c0, c1)
    rec["attempted"] = len(ops)
    rec["cpu"] = bench.cpu_delta_pct(c0, c1)
    return rec


def run_passes(spark, wl, n: int, prefix: str, tracer, bench, probe=None) -> list[dict]:
    passes: list[dict] = []
    for i in range(n):
        passes.append(run_pass(spark, wl, f"{prefix}{i}", tracer, bench))
        if probe is not None:
            wl.layer_probe(spark, probe.setdefault(i, {}))
    return passes


def new_session(ncpu: int, event_dir: str | None = None):
    from youtube_data_lakehouse_and_analysis_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if event_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark("perfbench", cpus=ncpu, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def setup_reps(spark, wl, ncpu: int, reps: int, bench, event_dir: str | None = None):
    """Stop ``spark`` and set up ``reps`` times (session start + opening the
    inputs); the session of the last repetition stays open."""
    samples = []
    for r in range(reps):
        spark.stop()
        c0 = bench.cpu_sample()
        t0 = now()
        spark = new_session(ncpu, event_dir if r == reps - 1 else None)
        t1 = now()
        rebuilt = wl.open(spark)
        t2 = now()
        c1 = bench.cpu_sample()
        samples.append(
            {
                "start_s": t1 - t0, "open_s": t2 - t1, "rebuilt": rebuilt,
                "cpu_s": cpu_seconds(c0, c1), "steal_free_s": steal_free(t2 - t0, c0, c1),
                "cpu": bench.cpu_delta_pct(c0, c1),
            }
        )
    return spark, samples


def rss_mb(spark) -> dict:
    jpid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{jpid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return {"jvm_mb": jvm_kb / 1024, "python_mb": py_kb / 1024}


def med(xs):
    return statistics.median(xs) if xs else 0.0


def pass_stats(passes, key: str) -> dict:
    """Median per pass, median per op and the tail percentile of one measure
    (``s``: wall seconds, ``cpu_s``: CPU seconds)."""
    ops = [o[key] for p in passes for o in p["ops"].values()]
    pct, tail_v = tail(ops)
    return {
        "pass": med([p[key] for p in passes]),
        "op_p50": med(ops),
        "op_tail": tail_v,
        "tail": {"percentile": pct, "samples": len(ops), "beyond": sum(o > tail_v for o in ops)},
    }


def end_to_end(setups, passes) -> tuple[dict, dict]:
    cpu, free = pass_stats(passes, "cpu_s"), pass_stats(passes, "steal_free_s")
    metrics = {
        "setup_s": (med([s["steal_free_s"] for s in setups]), "s"),
        "pass_s": (free["pass"], "s"),
        "pass_cpu_s": (cpu["pass"], "s"),
        "op_cpu_tail_s": (cpu["op_tail"], "s"),
    }
    stats = {"cpu": cpu, "steal_free": free, "wall": pass_stats(passes, "s")}
    stats["setup"] = {k: med([s[k] for s in setups]) for k in ("cpu_s", "steal_free_s", "start_s", "open_s")}
    return metrics, stats


def per_layer(wl, ncpu, setups, plain, traced, probes, totals) -> dict:
    """Per-pass layer numbers from the traced half (median over passes)."""

    def per_pass(fn):
        return med([fn(i, p) for i, p in enumerate(traced)])

    def ev(pass_i, phase_name, key):
        """Event-log total of one phase over the ops of traced pass ``pass_i``."""
        return sum(
            v.get(key, 0)
            for g, v in totals.items()
            if g.startswith(f"t{pass_i}|") and g.endswith("|" + phase_name)
        )

    m = {
        "session.start_s": (med([s["start_s"] for s in setups]), "s"),
        "catalog.load_s": (med([s["open_s"] for s in setups]) if isinstance(wl, SqlWorkload) else 0.0, "s"),
        "catalog.rebuilt_tables": (sum(s["rebuilt"] for s in setups), "count"),
        "plans.build_s": (per_pass(lambda i, p: sum(o["build_s"] for o in p["ops"].values())), "s"),
        "plans.py4j_calls": (per_pass(lambda i, p: sum(o["py4j"] for o in p["ops"].values())), "count"),
        "plans.build_jobs": (per_pass(lambda i, p: ev(i, "build", "jobs")), "count"),
        "plan.catalyst_s": (per_pass(lambda i, p: sum(o["plan_s"] for o in p["ops"].values())), "s"),
        "exec.run_s": (per_pass(lambda i, p: sum(o["exec_s"] for o in p["ops"].values())), "s"),
    }
    for key, unit in (
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"), ("task_run_s", "s"),
        ("task_cpu_s", "s"), ("gc_s", "s"), ("shuffle_read_bytes", "bytes"),
        ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"), ("input_bytes", "bytes"),
        ("python_s", "s"),
    ):
        m[f"exec.{key}"] = (per_pass(lambda i, p, k=key: ev(i, "exec", k)), unit)
    run_s = m["exec.run_s"][0]
    m["exec.cpu_util"] = (m["exec.task_cpu_s"][0] / (run_s * ncpu) if run_s else 0.0, "ratio")
    pipeline = isinstance(wl, PipelineWorkload)

    def op_s(name):
        return per_pass(lambda i, p: p["ops"].get(name, {}).get("s", 0.0)) if pipeline else 0.0

    pr = probes.get(len(traced) - 1, {}) if pipeline else {}
    m["sources.parse_s"] = (med([p.get("sources.parse_s", 0.0) for p in probes.values()]), "s")
    m["sources.rows"] = (pr.get("sources.rows", 0), "count")
    m["bronze.write_s"] = (op_s("ingest"), "s")
    m["bronze.open_s"] = (med([p.get("bronze.open_s", 0.0) for p in probes.values()]), "s")
    for k in ("files", "partition_dirs", "bytes", "rows"):
        m[f"bronze.{k}"] = (pr.get(f"bronze.{k}", 0), "bytes" if k == "bytes" else "count")
    m["silver.migrate_s"] = (op_s("migrate"), "s")
    for k in ("files", "bytes", "rows"):
        m[f"silver.{k}"] = (pr.get(f"silver.{k}", 0), "bytes" if k == "bytes" else "count")
    m["domain.query_s"] = (
        per_pass(lambda i, p: sum(o["s"] for n, o in p["ops"].items() if n.startswith("q"))) if pipeline else 0.0,
        "s",
    )
    written = m["bronze.bytes"][0] + m["silver.bytes"][0]
    m["pipeline.bytes_written_per_input_byte"] = (
        written / wl.expected["input_bytes"] if pipeline else 0.0,
        "ratio",
    )
    ingest_s = m["bronze.write_s"][0] + m["silver.migrate_s"][0]
    m["pipeline.ingest_items_per_s"] = (wl.expected["items"] / ingest_s if pipeline and ingest_s else 0.0, "1/s")
    wall = pass_stats(plain, "s")
    m["wall.pass_s"] = (wall["pass"], "s")
    m["wall.op_p50_s"] = (wall["op_p50"], "s")
    m["wall.op_tail_s"] = (wall["op_tail"], "s")
    m["trace.overhead_s"] = (med([p["s"] for p in traced]) - wall["pass"], "s")
    return m


def _descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` in the process tree."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_processes(timeout: float = 60.0) -> None:
    """Stop the Spark session and every process the run started (the py4j
    gateway JVM and the Python workers below it), and wait until each has
    ended.  Runs on every way out of ``main``."""
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:
            pass
    others = _descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        # no more object-release calls to a JVM that is going away
        gateway._gateway_client.is_connected = False
        gateway.close()
        if proc.stdin:  # the gateway JVM exits when its stdin closes
            proc.stdin.close()
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    # what is left below the JVM gets a grace period, then SIGTERM, then SIGKILL
    for sig, wait_s in ((None, 5.0), (signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        for pid in others:
            if sig is not None and _alive(pid):
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
        deadline = time.monotonic() + wait_s
        while any(map(_alive, others)) and time.monotonic() < deadline:
            time.sleep(0.05)
    for pid in others:  # reap our own children
        try:
            os.waitpid(pid, 0)
        except OSError:
            pass


def _exit_on_sigterm(signum, frame):
    raise SystemExit(128 + signum)


def main(argv: list[str] | None = None) -> int:
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    try:
        return _main(argv)
    finally:
        stop_processes()


def _main(argv: list[str] | None) -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="accepted; runs measure a fixed number of passes")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test sizes")
    args = ap.parse_args(argv)

    for sub in ("spark-local", "tmp", "ledger", "events", "out"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    # Python workers must import the package no matter where the run starts
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # the shipped session defaults, whatever the caller's environment holds
    for var in ("SPARK_DRIVER_MEMORY", "SPARK_GRAFT_INITIAL_PARTITIONS"):
        os.environ.pop(var, None)
    sys.path[:0] = [ROOT, HERE, os.path.join(ROOT, "tools")]
    import bench  # bench.py's CPU sampler and HEADLINE; fails fast without the package
    from tracing import Py4jCounter, read_event_log

    ncpu = len(os.sched_getaffinity(0))
    cfg = WORKLOADS[args.workload]
    wl = (SqlWorkload if cfg["kind"] == "sql" else PipelineWorkload)(cfg, args.seed, args.tiny)
    ledger: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "nproc": ncpu}
    phases = ledger["phases_s"] = {}
    t_phase = now()

    def mark(name):
        nonlocal t_phase
        phases[name] = now() - t_phase
        t_phase = now()

    ledger["cpu_probe"] = cpu_probe(ncpu)
    mark("cpu_probe")
    wl.prepare()
    mark("prepare")
    spark = new_session(ncpu)
    mark("bootstrap_session")
    ledger["master"] = spark.sparkContext.master
    wl.prime(spark)
    mark("prime")
    # the first execution of every op doubles as the JVM's warm-up and the
    # output check
    attempted, failed = wl.check(spark, ledger)
    mark("check")
    # set-up is timed on the warm JVM; the warm-up passes then absorb what a
    # new session pays on its first passes (Python workers, first jobs)
    spark, setups = setup_reps(spark, wl, ncpu, SETUP_REPS, bench)
    mark("setups")
    warm = [run_pass(spark, wl, f"w{i}", None, bench) for i in range(cfg["warmup_passes"])]
    mark("warmup_passes")
    # a traced run splits the passes between its untraced and traced halves
    n_passes = max(2, (cfg["passes"] + 1) // 2) if args.trace else cfg["passes"]
    plain = run_passes(spark, wl, n_passes, "u", None, bench)
    mark("plain_passes")
    rss = rss_mb(spark)
    result_metrics: dict
    if args.trace:
        event_dir = os.path.join(WORK, "events", f"{args.workload}-{os.getpid()}")
        shutil.rmtree(event_dir, ignore_errors=True)
        os.makedirs(event_dir)
        spark, traced_setups = setup_reps(spark, wl, ncpu, SETUP_REPS, bench, event_dir)
        counter = Py4jCounter(spark)
        probes: dict = {}
        traced = run_passes(spark, wl, n_passes, "t", counter, bench, probes)
        counter.remove()
        spark.stop()
        totals = read_event_log(event_dir)
        shutil.rmtree(event_dir, ignore_errors=True)
        result_metrics = per_layer(wl, ncpu, traced_setups, plain, traced, probes, totals)
        ledger.update(traced_setups=traced_setups, traced_passes=traced, probes=probes)
        runs = warm + plain + traced
    else:
        spark.stop()
        result_metrics, ledger["stats"] = end_to_end(setups, plain)
        runs = warm + plain
    attempted += sum(p["attempted"] for p in runs)
    failed += sum(p["failed"] for p in runs)
    ledger.update(setups=setups, warmup_passes=warm, passes=plain, rss=rss, attempted=attempted, failed=failed)
    wl.finish()
    mark("finish")
    with open(os.path.join(WORK, "ledger", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(ledger, fh, indent=1, default=str)
    correct = failed == 0 and all(ledger.get("checks", {}).values())
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result_metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
