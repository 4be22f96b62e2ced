"""Green Button engine benchmark: one workload per process, closed loop.

    python3 perfbench/run.py --workload espi_bulk --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  The program is driven from outside,
through its public functions and its CLI only.  Inputs come from
``--seed`` (perfbench/corpus.py); every output is checked after the
timed ops; the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` prints
the end-to-end metrics, ``--trace 1`` the per-layer metrics (see
README.md).  Scratch files live under ``.perfbench_work/`` in the
checkout.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import checks  # noqa: E402
import corpus  # noqa: E402
import observe  # noqa: E402

WORKLOADS = ("espi_bulk", "espi_small_batches", "cli_single_file")
END_TO_END = {"setup_s": "s", "op_p50_s": "s", "rows_per_s": "rows/s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s",
    "espi.build_s": "s", "espi.exec_s": "s",
    "espi.jobs": "count", "espi.stages": "count", "espi.tasks": "count",
    "parser.s_per_mb": "s/MB",
    "sinks.parquet_s": "s", "sinks.csv_s": "s", "sinks.influx_s": "s",
    "cli.import_s": "s", "fastpath.convert_s": "s", "fastpath.csv_s": "s",
    "fastpath.influx_s": "s", "fastpath.parquet_s": "s",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "host.calib_ms": "ms", "host.steal_pct": "%",
    "trace.overhead_pct": "%",
}


@dataclass(frozen=True)
class Sizes:
    """Corpus and loop shape.  An 8-file ingest+parquet op costs ~2.5 s of
    jobs and planning at local[4]; a 24-file year-long bulk op takes 6-10 s
    on the same box, so that fixed cost stays near a third or less.
    Warm-up ops are untimed and billed to setup_s.  Ingest op 1 in a fresh
    session runs 2-5x slower than steady state (Python workers, JIT) and
    op 2 is still slow; the small-batch shape needs the most ops to
    settle.  Six CLI ops warm the page cache and keep setup_s steady."""

    bulk_files: int = 24
    bulk_days: int = 365
    small_batch: int = 8
    small_pool: int = 24
    small_days: int = 14
    cli_days: int = 365
    warmup_bulk: int = 2
    warmup_small: int = 5
    warmup_cli: int = 6


FULL = Sizes()
# --tiny: the smoke test's shape, seconds per run instead of a minute
TINY = Sizes(bulk_files=4, bulk_days=7, small_pool=2, small_days=2, cli_days=7,
             warmup_bulk=1, warmup_small=1, warmup_cli=1)

# peak_rss_mb covers setup and this many timed ops: fixed work, so a
# faster program does not read higher for fitting more ops in the window
# (the JVM heap keeps growing op after op)
RSS_OPS = 2
CLI_TYPES = (("csv", "csv"), ("influxdb", "txt"), ("parquet", "parquet"))
DRIVER_MEMORY = "4g"


class Bench:
    def __init__(self, args: argparse.Namespace):
        self.args = args
        self.size = TINY if args.tiny else FULL
        self.nproc = len(os.sched_getaffinity(0))
        self.work = ROOT / ".perfbench_work" / args.workload
        shutil.rmtree(self.work, ignore_errors=True)
        (self.work / "tmp").mkdir(parents=True)
        # every temp file of this process, its JVM and its Python workers
        # stays inside the checkout
        os.environ["TMPDIR"] = str(self.work / "tmp")
        tempfile.tempdir = None
        self.tracer = observe.Tracer(bool(args.trace))
        self.spark = None
        self.layer: dict[str, float] = {}
        self.diag: dict = {"workload": args.workload, "seed": args.seed, "nproc": self.nproc}
        self.attempted = 0
        self.failed_ops: set = set()  # ids of attempted ops that failed
        self.timed_ops: list[int] = []  # ids of the timed ops that completed
        self.groups: list[str] = []  # job groups of traced Spark ops
        self.rows_per_op: list[int] = []
        self.peak_rss_mb: float | None = None  # set by workloads that measure it themselves
        self.sampler = observe.RssSampler()

    # -- shared pieces ------------------------------------------------------

    def write_inputs(self, feeds: list[corpus.Feed], sub: str) -> list[str]:
        d = self.work / "input" / sub
        d.mkdir(parents=True, exist_ok=True)
        paths = []
        for f in feeds:
            p = d / f.name
            p.write_bytes(f.data)
            paths.append(str(p))
        self.diag.setdefault("corpus", {})[sub] = {
            "files": len(feeds), "mb": round(sum(len(f.data) for f in feeds) / 2**20, 3),
            "sha256": corpus.corpus_digest(feeds)}
        return paths

    def start_spark(self) -> None:
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
        from greenbuttonengine_spark.session import get_spark

        tmp = self.work / "tmp"
        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark(
                app_name="perfbench",
                master=f"local[{self.nproc}]",
                shuffle_partitions=self.nproc,
                extra_conf={
                    "spark.local.dir": str(tmp),
                    "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                    # no /tmp/hsperfdata file: the run writes only in its checkout
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                },
            )
        self.layer["session.start_s"] = time.perf_counter() - t0
        conf = self.spark.sparkContext.getConf()
        self.diag["session"] = {
            "master": conf.get("spark.master"),
            "shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "driver_memory": conf.get("spark.driver.memory"),
        }

    def ingest(self, paths: list[str], out: str, group: str | None = None):
        """One Spark op: files -> TimeSeries -> parquet.  Returns the
        (ts, errors) DataFrames."""
        from greenbuttonengine_spark.espi import timeseries_from_files
        from greenbuttonengine_spark.sinks import write_parquet

        sc = self.spark.sparkContext
        if group:
            sc.setJobGroup(group, group)
        try:
            with self.tracer.span("espi.build"):
                ts, errors = timeseries_from_files(self.spark, paths)
            with self.tracer.span("espi.exec"):
                write_parquet(ts, out)
        finally:
            if group:
                sc.setLocalProperty("spark.jobGroup.id", None)
        return ts, errors

    def start_reference(self, paths: list[str]):
        """Start the fastpath reference conversion of ``paths`` in nproc
        child processes (checks.py's command line); returns a function
        that waits for them and gives {path: (errors, rows, digest)}."""
        chunks = [paths[k::self.nproc] for k in range(self.nproc) if paths[k::self.nproc]]
        procs = [subprocess.Popen([sys.executable, str(HERE / "checks.py"), *chunk],
                                  cwd=ROOT, stdout=subprocess.PIPE, text=True)
                 for chunk in chunks]

        def wait() -> dict[str, tuple[list[str], int, str]]:
            out = {}
            for chunk, proc in zip(chunks, procs):
                stdout, _ = proc.communicate(timeout=170)
                if proc.returncode != 0:
                    raise RuntimeError(f"reference conversion exited {proc.returncode}")
                out.update(zip(chunk, (tuple(r) for r in json.loads(stdout))))
            return out

        return wait

    def fail(self, ops, why: str) -> None:
        self.failed_ops.update(ops)
        self.diag.setdefault("check_failures", []).append(why)
        print(f"CHECK FAILED: {why}", file=sys.stderr)

    @staticmethod
    def errors_mismatch(errors_df, bad: list[str]) -> str | None:
        got = sorted(os.path.basename(r["source_file"]) for r in errors_df.collect())
        want = sorted(os.path.basename(p) for p in bad)
        return None if got == want else f"errors_df lists {got}, the bad files are {want}"

    def timed_loop(self, op, warmup: int) -> tuple[list[float], list]:
        """Run ``warmup`` untimed ops, then ops for --seconds; returns the
        time and the return value of each completed timed op.  In a traced
        run, odd ops are traced and even ops are not, so the two medians
        give the tracing overhead."""
        tracing = self.tracer.enabled
        for i in range(warmup):
            self.tracer.enabled = False
            op(i)
        self.tracer.enabled = tracing
        self.diag["setup_done"] = time.perf_counter()
        times, results, traced = [], [], []
        deadline = time.perf_counter() + self.args.seconds
        i = warmup
        # a traced run needs at least one traced and one untraced op
        while time.perf_counter() < deadline or (
                tracing and len(set(traced)) < 2 and i < warmup + 4):
            self.tracer.enabled = tracing and i % 2 == 1
            self.tracer.op = i
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                with self.tracer.span("op"):
                    result = op(i)
            except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
                traceback.print_exc()
                self.failed_ops.add(i)
                i += 1
                continue
            times.append(time.perf_counter() - t0)
            self.timed_ops.append(i)
            results.append(result)
            traced.append(self.tracer.enabled)
            if len(times) == RSS_OPS:
                self.sampler.stop()
            i += 1
        self.tracer.enabled = tracing
        self.tracer.op = None
        if tracing:
            on = [t for t, tr in zip(times, traced) if tr]
            off = [t for t, tr in zip(times, traced) if not tr]
            self.layer["trace.overhead_pct"] = 100 * (
                statistics.median(on) / statistics.median(off) - 1)
        return times, results

    # -- per-layer probes (traced run only) ---------------------------------

    def probe_parser(self, paths: list[str], max_mb: float = 24.0) -> None:
        from greenbuttonengine_spark.espi.parser import parse_espi_feed

        secs = mb = 0.0
        for p in paths:
            data = Path(p).read_bytes()
            t0 = time.perf_counter()
            with self.tracer.span("parser.parse"):
                parse_espi_feed(data.decode("utf-8"), p)
            secs += time.perf_counter() - t0
            mb += len(data) / 2**20
            if mb >= max_mb:
                break
        self.layer["parser.s_per_mb"] = secs / mb

    def probe_fastpath(self, path: str, repeats: int = 3) -> None:
        """Cold layer times of the CLI's driver-only path, each in a fresh
        process, median of ``repeats``."""
        out = self.work / "probe_out"
        out.mkdir(exist_ok=True)
        runs = []
        for _ in range(repeats):
            with self.tracer.span("fastpath.probe"):
                res = subprocess.run(
                    [sys.executable, str(HERE / "fastpath_probe.py"), path, str(out)],
                    cwd=ROOT, capture_output=True, text=True, timeout=120, check=True)
            runs.append(json.loads(res.stdout.strip().splitlines()[-1]))
        for k in runs[0]:
            self.layer[k] = statistics.median(r[k] for r in runs)

    def probe_sinks(self, ts) -> None:
        """Each Spark writer on one already-persisted TimeSeries."""
        from greenbuttonengine_spark.sinks import write_csv, write_influx_lines, write_parquet

        ts = ts.persist()
        ts.count()
        for name, fn in (("parquet", write_parquet), ("csv", write_csv),
                         ("influx", write_influx_lines)):
            t0 = time.perf_counter()
            with self.tracer.span(f"sinks.{name}"):
                fn(ts, str(self.work / f"sink_{name}"))
            self.layer[f"sinks.{name}_s"] = time.perf_counter() - t0
        ts.unpersist()

    def probe_spark(self, groups: list[str]) -> None:
        c = observe.spark_counts(self.spark, groups)
        n = max(len(groups), 1)
        for k in ("jobs", "stages", "tasks"):
            self.layer[f"espi.{k}"] = c[k] / n
        self.layer["spark.executor_run_s"] = c["run_s"] / n
        self.layer["spark.executor_cpu_s"] = c["cpu_s"] / n
        self.layer["spark.gc_s"] = c["gc_s"] / n
        self.layer["spark.shuffle_write_mb"] = c["shuffle_write_mb"] / n
        self.layer["spark.spill_mb"] = c["spill_mb"] / n

    def probe_layers(self, ts, paths: list[str], export: str) -> None:
        """Traced run only: the per-layer numbers of this workload's
        Spark ops, then each layer probed on its own inputs."""
        st = self.tracer.self_times()
        for name in ("espi.build", "espi.exec"):
            self.layer[f"{name}_s"] = statistics.median(st[name])
        self.probe_spark(self.groups)
        self.probe_parser(paths)
        self.probe_sinks(ts)
        self.probe_fastpath(export)

    # -- workloads ----------------------------------------------------------

    def espi_bulk(self):
        feeds = corpus.make_corpus(self.args.seed, self.size.bulk_files, self.size.bulk_days,
                                   prefix="b")
        paths = self.write_inputs(feeds, "bulk")
        good = [p for p, f in zip(paths, feeds) if not f.bad]
        bad = [p for p, f in zip(paths, feeds) if f.bad]
        self.start_spark()
        out = str(self.work / "out_bulk")
        last = {}

        def op(i):
            group = f"op{i}" if self.tracer.enabled else None
            last["dfs"] = self.ingest(paths, out, group)
            if group:
                self.groups.append(group)

        times, _ = self.timed_loop(op, self.size.warmup_bulk)
        yield times

        # checks: the last op's parquet == fastpath over the good files
        reference = self.start_reference(good)
        got = checks.digest_parquet(out)
        ts, errors = last["dfs"]
        if why := self.errors_mismatch(errors, bad):
            self.fail(self.timed_ops, why)
        want = checks.combine((n, d) for _, n, d in reference().values())
        if got != want:
            self.fail(self.timed_ops, f"bulk parquet digest {got} != fastpath {want}")
        self.rows_per_op = [got[0]] * len(times)
        if self.tracer.enabled:
            self.probe_layers(ts, good, next(p for p in good if "hourly_electric" in p))

    def espi_small_batches(self):
        size = self.size
        feeds = corpus.make_corpus(self.args.seed, size.small_batch * size.small_pool,
                                   size.small_days, prefix="s")
        paths = self.write_inputs(feeds, "small")
        good = [p for p, f in zip(paths, feeds) if not f.bad]
        bad = [p for p, f in zip(paths, feeds) if f.bad]
        batches = [good[k:k + size.small_batch] for k in range(0, len(good), size.small_batch)]
        self.start_spark()

        def op(i):
            b = i % len(batches)
            group = f"op{i}" if self.tracer.enabled else None
            self.ingest(batches[b], str(self.work / f"out_b{b}"), group)
            if group:
                self.groups.append(group)
            return b

        times, used = self.timed_loop(op, size.warmup_small)
        yield times

        exp = self.start_reference(good)()
        rows = {}
        for b in sorted(set(used)):
            want = checks.combine(exp[p][1:] for p in batches[b])
            got = checks.digest_parquet(str(self.work / f"out_b{b}"))
            rows[b] = got[0]
            if got != want:
                self.fail([i for i, u in zip(self.timed_ops, used) if u == b],
                          f"batch {b} parquet digest {got} != fastpath {want}")
        self.rows_per_op = [rows[b] for b in used]
        # error channel: one untimed op over a batch plus the bad files
        self.attempted += 1
        ts, errors = self.ingest(batches[0] + bad, str(self.work / "out_errors"))
        want = checks.combine(exp[p][1:] for p in batches[0])
        got = checks.digest_parquet(str(self.work / "out_errors"))
        if got != want:
            self.fail(["errors"], f"error-channel batch digest {got} != fastpath {want}")
        if why := self.errors_mismatch(errors, bad):
            self.fail(["errors"], why)
        if self.tracer.enabled:
            self.probe_layers(ts, good, good[1])

    def cli_single_file(self):
        feed = corpus.make_feed(self.args.seed, "cli_export.xml", "hourly_electric",
                                self.size.cli_days)
        (path,) = self.write_inputs([feed], "cli")
        out = self.work / "cli_out"
        out.mkdir()
        maxrss: list[int] = []
        outputs: list[tuple[str, Path]] = []

        def op(i):
            ft, ext = CLI_TYPES[i % 3]
            target = out / f"op{i}.{ext}"
            with self.tracer.span(f"cli.{ft}"):
                proc = subprocess.Popen(
                    [sys.executable, "-m", "greenbuttonengine_spark.cli",
                     f"--filetype={ft}", f"--out={target}", path],
                    cwd=ROOT, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE)
                _, status, usage = os.wait4(proc.pid, 0)
                proc.returncode = os.waitstatus_to_exitcode(status)
            err = proc.stderr.read()
            proc.stderr.close()
            if proc.returncode != 0:
                raise RuntimeError(f"cli exited {proc.returncode}: {err[-400:]!r}")
            maxrss.append(usage.ru_maxrss)
            outputs.append((ft, target))
            return None

        times, _ = self.timed_loop(op, self.size.warmup_cli)
        self.peak_rss_mb = max(maxrss) / 1024
        self.diag["op_p90_s"] = statistics.quantiles(times, n=10)[-1] if len(times) > 1 else None
        self.diag["op_p50_by_type_s"] = {
            ft: statistics.median(t for t, (f, _) in zip(times, outputs[-len(times):]) if f == ft)
            for ft, _ in CLI_TYPES
            if any(f == ft for f, _ in outputs[-len(times):])
        }
        yield times

        from greenbuttonengine_spark.espi import fastpath

        rows, errs = fastpath.convert_file(path)
        ref = {
            "csv": "".join(line + "\n" for line in fastpath.csv_lines(rows)),
            "influxdb": "".join(line + "\n" for line in fastpath.influx_lines(rows)),
            "parquet": checks.digest_dicts(rows),
        }
        self.rows_per_op = [len(rows)] * len(times)
        bad = [i for i, (ft, target) in zip(self.timed_ops, outputs[-len(times):])
               if (checks.digest_parquet(str(target)) if ft == "parquet"
                   else target.read_text()) != ref[ft]]
        if errs or bad:
            self.fail(self.timed_ops if errs else bad,
                      f"{len(bad)} CLI outputs differ from fastpath ({errs})")
        if self.tracer.enabled:
            # the same file through the Spark engine: CLI outputs must
            # match it, and it gives this workload's Spark layer numbers
            self.start_spark()
            from greenbuttonengine_spark.sinks import influx_lines_df

            ts, _ = self.ingest([path], str(self.work / "spark_out"), "check")
            self.groups.append("check")
            spark_digest = checks.digest_parquet(str(self.work / "spark_out"))
            csv_out = next(t for f, t in outputs if f == "csv")
            influx_out = next(t for f, t in outputs if f == "influxdb")
            spark_lines = sorted(r["line"] for r in influx_lines_df(ts).collect())
            if (checks.digest_csv(csv_out.read_text()) != spark_digest
                    or spark_lines != sorted(influx_out.read_text().splitlines())
                    or spark_digest != ref["parquet"]):
                self.fail(self.timed_ops, "CLI outputs differ from the Spark engine")
            self.probe_layers(ts, [path], path)

    # -- one run --------------------------------------------------------------

    def run(self) -> dict:
        """Each workload is a generator: it sets up, yields the timed op
        times, then runs its checks (and, traced, its layer probes)."""
        calib0, stamp0 = observe.calib_ms(), observe.cpu_stamp()
        self.sampler.start()
        steps = getattr(self, self.args.workload)()
        times = next(steps)
        peak = self.sampler.stop()
        setup_s = self.diag.pop("setup_done") - T_START
        t_check = time.perf_counter()
        for _ in steps:
            pass
        self.diag["check_s"] = time.perf_counter() - t_check
        stamp1 = observe.cpu_stamp()
        calib = statistics.median([calib0, observe.calib_ms()])
        self.diag.update({"host.calib_ms": calib,
                          "host.steal_pct": observe.steal_pct(stamp0, stamp1),
                          "ops": len(times), "op_times_s": times})
        if self.tracer.enabled:
            self.layer["host.calib_ms"] = calib
            self.layer["host.steal_pct"] = self.diag["host.steal_pct"]
            self.tracer.dump(str(self.work / "spans.json"))
            self.diag["spans"] = str((self.work / "spans.json").relative_to(ROOT))
            self.diag["self_s"] = {k: sum(v) for k, v in self.tracer.self_times().items()}
            metrics = {k: {"value": self.layer[k], "unit": u} for k, u in PER_LAYER.items()}
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "op_p50_s": {"value": statistics.median(times), "unit": "s"},
                "rows_per_s": {"value": statistics.median(self.rows_per_op)
                               / statistics.median(times), "unit": "rows/s"},
                "peak_rss_mb": {"value": self.peak_rss_mb or peak, "unit": "MB"},
            }
        return metrics

    def close(self) -> None:
        """Stop Spark, end its JVM and wait for every child process."""
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            self.spark = None
            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
                gateway.proc.stdin.close()  # the gateway JVM exits on stdin EOF
                gateway.proc.wait(timeout=60)
        observe.wait_for_children(timeout=60)
        for p in self.work.iterdir():  # keep only the spans
            if p.is_dir():
                shutil.rmtree(p, ignore_errors=True)
            elif p.name != "spans.json":
                p.unlink()


def _watchdog(signum, frame):
    raise TimeoutError("run overran its time limit")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test sizes")
    args = ap.parse_args(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import greenbuttonengine_spark  # noqa: F401
    except ImportError as ex:
        print(f"error: the engine is not importable from {ROOT}: {ex}", file=sys.stderr)
        return 2
    # a stuck run ends with an error instead of hanging its caller
    signal.signal(signal.SIGALRM, _watchdog)
    signal.alarm(int(args.seconds) + 140)
    bench = Bench(args)
    try:
        metrics = bench.run()
    finally:
        bench.close()
        signal.alarm(0)
    print(json.dumps({"diagnostics": bench.diag}, default=str))
    failed = len(bench.failed_ops)
    print(json.dumps({"correct": failed == 0, "attempted": bench.attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
