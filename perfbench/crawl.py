"""One benchmark run: a fresh process, one workload, one seed.

Started by ``perfbench/run.py`` (which sets the environment and reaps
the process tree); prints human-readable metric lines and, last, the
result JSON object.

Untraced run (``--trace 0``): the end-to-end metrics.
  1. start the session (``setup_s`` counts from process start);
  2. generate the inputs for (workload, seed) once — untimed;
  3. warm up: bootstrap a throwaway store;
  4. closed loop, one crawl at a time until ``--seconds`` have passed:
     bootstrap a fresh store (timed), ``run_crawl`` (timed, with the
     entry time of every round), then the correctness checks (untimed);
  5. medians over the crawls of the run.

Traced run (``--trace 1``): the per-layer metrics.  The session writes
Spark's event log; after the same warm-up, one crawl runs with every
layer's public calls wrapped in spans (``spans.py``), then one untraced
reference crawl for the tracing overhead.  The event log gives per-layer
busy time, shuffle, spill, skew and failures (``eventlog.py``).
"""

from __future__ import annotations

import time

T_START = time.time()  # process start for setup_s: before the heavy imports

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

from perfbench import checks, gen  # noqa: E402

RUN_TS = "2026-01-16 00:00:00"

END_TO_END = (
    ("crawl_s", "s"),
    ("fetched_per_s", "pages/s"),
    ("round_p50_s", "s"),
    ("setup_s", "s"),
    ("peak_pss_mb", "MB"),
    ("store_bytes_per_url", "B/url"),
)
SETUP_SAMPLES = 3  # bootstraps per run; setup_s uses their median


class MemSampler(threading.Thread):
    """Peak memory of this process and all its descendants (the JVM and
    its python workers), sampled from /proc.  Memory is counted as PSS:
    a page shared by several processes (python workers are forked from
    one daemon) counts once, split between them, where summed RSS would
    count it in every process."""

    def __init__(self, period_s: float = 0.25):
        super().__init__(daemon=True)
        self.period_s = period_s
        self.peak_bytes = 0
        self.peak_rss = 0
        self._stop_evt = threading.Event()

    def tree(self) -> list[int]:
        """Pids of this process and its descendants."""
        parent = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except OSError:
                    continue  # exited between listdir and open
        root = os.getpid()
        out = []
        for pid in parent:
            p = pid
            while p not in (root, 0, 1) and p in parent:
                p = parent[p]
            if p == root:
                out.append(pid)
        return out

    def sample(self) -> tuple[int, int]:
        """(Σ PSS bytes, Σ RSS bytes) of the tree."""
        pss = rss = 0
        for pid in self.tree():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Rss:"):
                            rss += int(line.split()[1]) * 1024
                        elif line.startswith("Pss:"):
                            pss += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        return pss, rss

    def run(self) -> None:
        while not self._stop_evt.is_set():
            pss, rss = self.sample()
            self.peak_bytes = max(self.peak_bytes, pss)
            self.peak_rss = max(self.peak_rss, rss)
            self._stop_evt.wait(self.period_s)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        return self.peak_bytes


def session(work: str, event_dir: str | None = None):
    """``local[nproc]`` with every scratch path inside the work dir;
    driver memory comes from SPARK_DRIVER_MEM (set by run.py)."""
    from dart_xbrl_crawler_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if event_dir is not None:
        os.makedirs(event_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
                # plan text in the log is unused; the plan trees are kept
                "spark.sql.maxPlanStringLength": "4096",
            }
        )
    return get_spark("perfbench", cores=len(os.sched_getaffinity(0)), extra_conf=conf)


class Inputs:
    """A workload's generated tables, read into the session."""

    def __init__(self, spark, d: str, workload: str):
        self.dir = d
        self.params = gen.crawl_params(workload)
        self.pages = spark.read.parquet(os.path.join(d, "pages.parquet"))
        self.seeds = spark.read.parquet(os.path.join(d, "seeds.parquet"))
        self.robots = spark.read.parquet(os.path.join(d, "robots.parquet"))
        with open(os.path.join(d, "rows.json")) as f:
            self.rows = json.load(f)
        self.budgets = checks.host_budgets(
            [(r["host"], r["crawl_delay_ms"]) for r in self.robots.collect()],
            self.params["round_ms"],
        )


class Crawl:
    """One store: bootstrap, run_crawl, checks."""

    def __init__(self, spark, inp: Inputs, path: str):
        from dart_xbrl_crawler_spark.operators.frontier import FrontierStore

        self.spark, self.inp, self.path = spark, inp, path
        self.store_path = os.path.join(path, "frontier")
        self.sink = os.path.join(path, "text") if inp.params["text_out"] else None
        self.store = FrontierStore(self.store_path, n_bloom_shards=8)
        self.round_starts: list[float] = []
        self.summaries: list[dict] = []
        self.failures: list[checks.Failure] = []
        # filled by check()
        self.frontier_rows = self.sink_rows = self.sink_ok = 0

    def bootstrap(self) -> float:
        t = time.perf_counter()
        self.store.bootstrap(self.inp.seeds, RUN_TS)
        return time.perf_counter() - t

    def run(self) -> float:
        """run_crawl, recording each round's entry time."""
        from dart_xbrl_crawler_spark.operators.frontier import FrontierStore

        p = self.inp.params
        orig = FrontierStore.run_round

        def run_round(store, *a, **k):
            self.round_starts.append(time.perf_counter())
            return orig(store, *a, **k)

        FrontierStore.run_round = run_round
        t = time.perf_counter()
        try:
            self.summaries = self.store.run_crawl(
                self.spark,
                self.inp.pages,
                self.inp.robots,
                RUN_TS,
                max_rounds=p["max_rounds"],
                round_ms=p["round_ms"],
                text_out=self.sink,
            )
        finally:
            self.t_end = time.perf_counter()
            FrontierStore.run_round = orig
        return self.t_end - t

    def round_seconds(self) -> list[float]:
        ends = self.round_starts[1:] + [self.t_end]
        return [b - a for a, b in zip(self.round_starts, ends)]

    @property
    def fetched(self) -> int:
        return sum(s["fetched"] for s in self.summaries)

    def check(self, digest_path: str) -> None:
        """Every correctness check; failures land in ``self.failures``."""
        spark, store = self.spark, self.store
        state = store.state_counts(spark)
        self.failures += checks.lineage_matches_state(spark, store, state)
        self.failures += checks.within_budget(spark, store, self.inp.budgets)
        self.failures += checks.fetched_once(spark, store)
        if state.get("fetched", 0) != self.fetched:
            self.failures.append(
                (None, f"run_crawl reported {self.fetched} fetched, table has {state}")
            )
        self.frontier_rows = sum(state.values())
        if self.sink is not None:
            fails, self.sink_rows, self.sink_ok = checks.sink_matches_oracle(
                spark, store, self.sink, os.path.join(self.inp.dir, "pages.parquet"), RUN_TS
            )
            self.failures += fails
        self.failures += checks.digest_matches(
            digest_path, checks.frontier_digest(spark, store)
        )

    def failed_rounds(self) -> int:
        """Rounds with a failed check; a crawl-wide failure fails all."""
        n = len(self.round_starts)
        if any(r is None for r, _ in self.failures):
            return n
        return min(n, len({r for r, _ in self.failures}))

    def store_bytes(self) -> int:
        """Bytes on disk under every path the store owns."""
        total = 0
        for suffix in ("", "_host_metrics", "_metrics", "_bloom", "_config.json"):
            p = self.store_path + suffix
            if os.path.isfile(p):
                total += os.path.getsize(p)
            for root, _, files in os.walk(p):
                total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def digest_file(args) -> str:
    """Where the first crawl of (workload, seed) on this core count
    records its final frontier digest for later crawls to match."""
    cores = len(os.sched_getaffinity(0))
    return os.path.join(args.work, "digests", f"{args.workload}-s{args.seed}-c{cores}")


def warm_up(spark, inp: Inputs, run_dir: str) -> float:
    """Bootstrap a throwaway store, so the timed work finds the JVM, the
    parquet writers and the python workers started.  Returns its
    seconds (a set-up sample: users pay it cold)."""
    c = Crawl(spark, inp, os.path.join(run_dir, "warmup"))
    boot = c.bootstrap()
    c.remove()
    return boot


def untraced(args, run_dir: str) -> tuple[dict, int, int]:
    spark = session(args.work)
    session_s = time.time() - T_START
    inp = Inputs(spark, gen.ensure_inputs(args.work, args.workload, args.seed, spark), args.workload)
    t_warm = time.perf_counter()
    boots = [warm_up(spark, inp, run_dir)]
    t_warm = time.perf_counter() - t_warm
    digest_path = digest_file(args)
    sampler = MemSampler()
    sampler.start()
    crawl_s, per_s, rounds, bytes_per_url = [], [], [], []
    attempted = failed = 0
    check_s = 0.0
    t0 = time.perf_counter()
    k = 0
    while not crawl_s or time.perf_counter() - t0 < args.seconds:
        c = Crawl(spark, inp, os.path.join(run_dir, f"c{k}"))
        k += 1
        boots.append(c.bootstrap())
        try:
            dt = c.run()
        except Exception as e:  # a crawl that raises fails its rounds
            print(f"crawl raised: {e!r}", file=sys.stderr)
            attempted += max(1, len(c.round_starts))
            failed += max(1, len(c.round_starts))
            break
        t_check = time.perf_counter()
        c.check(digest_path)
        check_s += time.perf_counter() - t_check
        crawl_s.append(dt)
        per_s.append(c.fetched / dt)
        rounds += c.round_seconds()
        bytes_per_url.append(c.store_bytes() / c.frontier_rows)
        attempted += len(c.round_starts)
        failed += c.failed_rounds()
        for r, msg in c.failures:
            print(f"check failed (round {r}): {msg}", file=sys.stderr)
        c.remove()
    peak = sampler.stop()
    while len(boots) < SETUP_SAMPLES:
        c = Crawl(spark, inp, os.path.join(run_dir, f"b{len(boots)}"))
        boots.append(c.bootstrap())
        c.remove()
    spark.stop()
    if not crawl_s:
        return {}, attempted, failed
    metrics = {
        "crawl_s": statistics.median(crawl_s),
        "fetched_per_s": statistics.median(per_s),
        "round_p50_s": statistics.median(rounds),
        "setup_s": session_s + statistics.median(boots),
        "peak_pss_mb": peak / 1e6,
        "store_bytes_per_url": statistics.median(bytes_per_url),
    }
    print(
        f"# {args.workload} seed={args.seed}: {len(crawl_s)} crawls, "
        f"{len(rounds)} rounds (round_p50_s samples), inputs {inp.rows}, "
        f"session {session_s:.3f} s, warm-up {t_warm:.3f} s, checks {check_s:.3f} s, "
        f"peak rss {sampler.peak_rss / 1e6:.0f} MB, "
        f"bootstraps {[round(b, 3) for b in boots]}"
    )
    return metrics, attempted, failed


def select_ratio(spark, c: Crawl, queued0: int) -> tuple[float, int]:
    """(selected ÷ queued candidates at round start, Σ candidates), from
    the lineage chain: a round's candidates are the rows queued at its
    start, its selected rows the ones it fetched or failed."""
    from pyspark.sql import functions as F

    per_round: dict[int, dict[str, int]] = {}
    for r in (
        c.store.metrics.read_all(spark)
        .filter(F.col("round_id") >= 0)
        .groupBy("round_id", "state")
        .agg(F.sum("n").alias("n"))
        .collect()
    ):
        per_round.setdefault(r["round_id"], {})[r["state"]] = int(r["n"])
    queued, cand, sel = queued0, 0, 0
    for s in c.summaries:
        st = per_round.get(s["round_id"], {})
        cand += queued
        sel += st.get("fetched", 0) + st.get("failed", 0)
        queued += s["discovered_new"] - sum(st.values())
    return (sel / cand if cand else 0.0), cand


def traced(args, run_dir: str) -> tuple[dict, int, int]:
    from perfbench import eventlog
    from perfbench.spans import Tracer

    # One session with the event log on.  The traced crawl comes first
    # after the warm-up, in the place the untraced runs time their crawl;
    # an untraced reference crawl (no spans or job tags; its jobs carry
    # no span group and are not attributed) follows.  trace.overhead_s =
    # traced - reference, so it also holds the second crawl's warmer JVM;
    # the event log's own cost is in both.
    event_dir = os.path.join(run_dir, "events")
    spark = session(args.work, event_dir=event_dir)
    inp = Inputs(spark, gen.ensure_inputs(args.work, args.workload, args.seed, spark), args.workload)
    warm_up(spark, inp, run_dir)
    c = Crawl(spark, inp, os.path.join(run_dir, "traced"))
    c.bootstrap()
    queued0 = c.store.lineage_counts(spark).get("queued", 0)
    tracer = Tracer(spark.sparkContext)
    with tracer.install(c.sink):
        traced_s = c.run()
    c.check(digest_file(args))
    sel, cand = select_ratio(spark, c, queued0)

    ref = Crawl(spark, inp, os.path.join(run_dir, "ref"))
    ref.bootstrap()
    untraced_s = ref.run()
    ref.check(digest_file(args))
    ref.remove()
    spark.stop()  # flushes the event log

    stages = eventlog.read_stages(eventlog.log_files(event_dir))
    table = eventlog.layer_table(tracer.spans, stages)
    metrics = {f"{layer}.{m}": row[m] for layer, row in table.items() for m, _ in eventlog.LAYER_METRICS}
    probed = sum(s["discovered_new"] + s["discovered_dup"] for s in c.summaries)
    inserted = sum(s["discovered_new"] for s in c.summaries)
    fetch_spans = eventlog.descendants(tracer.spans, "frontier.fetch")
    rekeyed = sum(s.canon_rows for s in stages.values() if s.group in fetch_spans)
    layers = eventlog.stage_layers(tracer.spans, stages)
    commits = [s for s in stages.values() if layers.get(s.sid) == "checkpoint.delta_commit"]
    written = sum(s.rows_written for s in commits)
    ratios = {
        "politeness.select_ratio": (sel, cand, "queued candidates"),
        "dedup.fresh_ratio": (inserted / probed if probed else 0.0, probed, "urls probed"),
        "frontier.rekey_per_fetch": (
            rekeyed / c.fetched if c.fetched else 0.0, c.fetched, "pages fetched"),
        "checkpoint.bytes_per_row": (
            sum(s.bytes_written for s in commits) / written if written else 0.0,
            written, "delta rows written"),
        "extract.parse_ok_ratio": (
            c.sink_ok / c.sink_rows if c.sink_rows else 0.0, c.sink_rows, "sink rows"),
    }
    metrics.update({k: v[0] for k, v in ratios.items()})
    layer_wall = sum(row["wall_s"] for row in table.values())
    metrics["trace.crawl_s"] = traced_s
    metrics["trace.coverage"] = layer_wall / traced_s
    metrics["trace.overhead_s"] = traced_s - untraced_s

    print(f"# traced crawl {traced_s:.3f} s, untraced {untraced_s:.3f} s, "
          f"{len(tracer.spans)} spans, {len(stages)} stages")
    print(f"# {'layer':24s} " + " ".join(f"{m:>12s}" for m, _ in eventlog.LAYER_METRICS)
          + "  should move")
    for layer, row in table.items():
        moves = eventlog.LAYER_MOVES[layer]
        print(f"# {layer:24s} " + " ".join(f"{row[m]:12.4g}" for m, _ in eventlog.LAYER_METRICS)
              + f"  {moves}")
    for k, (v, base, what) in ratios.items():
        print(f"# {k} = {v:.4g} (base: {base} {what})")
    failed = ref.failed_rounds() + c.failed_rounds()
    for r, msg in ref.failures + c.failures:
        print(f"check failed (round {r}): {msg}", file=sys.stderr)
    return metrics, len(ref.round_starts) + len(c.round_starts), failed


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True, help="scratch directory")
    args = ap.parse_args(argv)
    run_dir = os.path.join(args.work, "runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        if args.trace:
            metrics, attempted, failed = traced(args, run_dir)
            units = per_layer_units()
        else:
            metrics, attempted, failed = untraced(args, run_dir)
            units = dict(END_TO_END)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    correct = failed == 0 and set(metrics) == set(units)
    for name, unit in units.items():
        if name in metrics:
            print(f"{name} {metrics[name]:.6g} {unit}")
    print(f"error_rate {failed / max(attempted, 1):.6g} share "
          f"({failed} of {attempted} rounds failed a check)")
    print(json.dumps({
        "correct": correct,
        "attempted": max(attempted, 1),
        "failed": failed or (0 if correct else max(attempted, 1)),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items() if k in metrics},
    }))
    return 0 if correct else 1


def per_layer_units() -> dict[str, str]:
    from perfbench import eventlog

    units = {
        f"{layer}.{m}": u for layer in eventlog.LAYERS for m, u in eventlog.LAYER_METRICS
    }
    units.update(eventlog.RATIO_UNITS)
    return units


if __name__ == "__main__":
    sys.exit(main())
