#!/usr/bin/env python3
"""The repository benchmark: DwC-A conversion and IPT harvest, driven only
through the package's public entry points (``service.ResourceService`` /
``JobQueue`` and ``httpd.serve``).

    python3 perfbench/run.py --workload convert_bulk --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` (see
gen.py) and every output is checked (see check.py). The last stdout line
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``; with ``--trace 1`` the per-layer
metrics of traced iterations run in turn with untraced ones. The line
before it is the full record: environment, host canary, every metric, and
for a traced run the untraced numbers and the tracing overhead. Scratch
files live under ``.perfbench_work/`` and are removed at exit; result and
span files stay in ``.perfbench_work/results/``. NOTES.md explains the
workloads and the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import urllib.request
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CPUS = str(len(os.sched_getaffinity(0)))
SETUPS = 3  # session starts per run; setup_s is their median
MIN_ITERATIONS = 3  # per measurement, however short --seconds is
CONVERT_ROWS = 300_000
HARVEST_ARCHIVES = 12  # one per variant of the FIXTURES.md mix
HARVEST_ROWS = 15_000  # core rows over all archives, the same for every seed
POLL_S = 0.25  # the client polls the API this often while it waits for jobs
REPEATS = 2  # convert_bulk: same-version requests queued behind each conversion
JOB_TIMEOUT_S = 150.0
# The driver heap, fixed (initial = maximum): enough for both workloads, and
# no heap growth for the JVM's resident size to follow from run to run.
HEAP = "1g"

UNITS = {"setup_s": "s", "work_s_p50": "s", "skip_s_p50": "s", "api_ms_p50": "ms",
         "out_bytes_per_in_byte": "ratio", "ok_rate": "ratio", "peak_rss_mb": "MB"}


class Run:
    """One benchmark process: work directory, checks, SparkSession, and the
    client-side span hook the tracer fills in."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = ROOT / ".perfbench_work" / f"{workload}-{seed}-{os.getpid()}"
        self.results = ROOT / ".perfbench_work" / "results"
        self.attempted = 0
        self.failures: list[str] = []
        self.spark = None
        self.con = None  # DuckDB, for the output checks
        self.request = lambda name, req: nullcontext()

    def expect(self, ok: bool, what: str) -> bool:
        """Count one checked operation; record it as failed unless ``ok``."""
        self.attempted += 1
        if not ok:
            self.failures.append(what)
            print(f"FAILED: {what}", file=sys.stderr, flush=True)
        return ok

    def start_spark(self) -> float:
        """(Re)start the session; the first call launches the JVM."""
        from dwca_parquet_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
        self.spark = get_spark(
            f"perfbench-{self.workload}", master=f"local[{CPUS}]",
            extra_conf={"spark.driver.extraJavaOptions": f"-Xms{heap}"})
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0


# --- the fake IPT and the service ---------------------------------------------


class FakeIpt:
    """The benchmark's own IPT: RSS, EML and archive bytes from memory.
    ``version`` is what each dataset's EML packageId announces."""

    def __init__(self, resources):
        from gen import IPT_URL

        self.url = IPT_URL
        self.by_id = {r.rid: r for r in resources}
        self.version = {r.rid: 1 for r in resources}

    def fetch(self, url: str) -> bytes:
        from gen import eml_xml, rss_xml

        path = url.removeprefix(self.url)
        if path == "/rss":
            return rss_xml([(r.rid, r.title, self.version[r.rid])
                            for r in self.by_id.values()])
        rid = path.split("r=", 1)[-1].split("&", 1)[0]
        if rid not in self.by_id:
            raise KeyError(rid)
        if path.startswith("/eml.do"):
            r = self.by_id[rid]
            return eml_xml(rid, r.title, self.version[rid], r.eml_seed)
        if path.startswith("/archive.do"):
            return self.by_id[rid].archive
        raise KeyError(url)


def make_service(run: Run, ipt: FakeIpt, store: Path):
    from dwca_parquet_spark.plans.csw import CatalogConfig
    from dwca_parquet_spark.service import ResourceService, ServiceConfig
    from dwca_parquet_spark.sources.ipt import IptClient

    staging = run.work / "staging"
    staging.mkdir(parents=True, exist_ok=True)
    cfg = ServiceConfig(catalog=CatalogConfig(ipt_url=ipt.url), store=str(store),
                        staging_dir=str(staging))
    # late-bound, so the traced run's wrapper on FakeIpt.fetch sees every call
    client = IptClient(ipt.url, fetch=lambda url: ipt.fetch(url))
    return ResourceService(run.spark, client, cfg)


def find_job(service, job_id: int):
    return next(j for j in reversed(service.jobs.jobs) if j.id == job_id)


def wait_job(run: Run, job) -> bool:
    try:
        job.wait(JOB_TIMEOUT_S)
    except TimeoutError:
        pass
    error = (job.error or "").strip().splitlines()[-1:]
    return run.expect(job.status == "done", f"job {job.id} {job.name}: {job.status} {error}")


def wait_polling(run: Run, jobs: list, poll, lat: list[float]) -> None:
    """Wait for ``jobs``, calling ``poll`` every POLL_S meanwhile (an API
    call made while the worker is busy) and recording its latency."""
    deadline = time.perf_counter() + JOB_TIMEOUT_S
    for job in jobs:
        while time.perf_counter() < deadline:
            try:
                job.wait(POLL_S)
                break
            except TimeoutError:
                t = time.perf_counter()
                poll()
                lat.append(time.perf_counter() - t)
    for job in jobs:
        wait_job(run, job)


def check_conversion(run: Run, service, rid: str, version, expected) -> int:
    """Check one conversion against the generator's record: row count,
    (fid, geom) digest, latest byte-equal to versioned. Returns the
    versioned parquet's size (0 when missing)."""
    import check

    base = Path(service.cfg.resources_base)
    versioned, latest = base / rid / f"v{version}.parquet", base / f"{rid}.parquet"
    if not run.expect(versioned.is_file() and latest.is_file(),
                      f"{rid} v{version}: output missing"):
        return 0
    got = check.output_fid_geom(run.con, versioned)
    run.expect(got == expected, f"{rid} v{version}: (rows, digest) {got} != {expected}")
    run.expect(check.file_sha(versioned) == check.file_sha(latest),
               f"{rid} v{version}: latest differs from versioned")
    return versioned.stat().st_size


# --- convert_bulk --------------------------------------------------------------


class ConvertBulk:
    """One 300k-row archive converted again and again by one closed-loop
    client. An iteration: ``get_resource`` with a fresh version (a
    conversion job), at once the same request REPEATS times (queued behind
    it; each must take the idempotent skip path), API polls while the
    worker is busy, then wait for all the jobs."""

    def __init__(self, run: Run):
        import gen
        import numpy as np

        self.run = run
        rng = np.random.default_rng([run.seed, 1])
        blob, self.record = gen.make_archive(rng, CONVERT_ROWS, gen.Variant())
        wblob, self.warm_record = gen.make_archive(rng, CONVERT_ROWS // 10, gen.Variant())
        self.ipt = FakeIpt([
            gen.Resource("bulk", "Bulk occurrences", gen.Variant(), blob, self.record),
            gen.Resource("warm", "Warm-up", gen.Variant(), wblob, self.warm_record),
        ])

    def prepare(self) -> None:
        import check

        self.expected = check.expected_fid_geom(self.run.con, self.record)
        self.warm_expected = check.expected_fid_geom(self.run.con, self.warm_record)

    def setup(self) -> None:
        self.service = make_service(self.run, self.ipt, self.run.work / "store")
        self._iteration("warm", self.warm_expected, self.warm_record.csv_bytes)

    def _iteration(self, rid: str, expected, csv_bytes: int) -> dict:
        run, service = self.run, self.service
        self.ipt.version[rid] += 1
        t0 = time.perf_counter()
        convert = service.get_resource(rid)
        job = find_job(service, convert["job_id"])
        repeats = [find_job(service, service.get_resource(rid)["job_id"])
                   for _ in range(REPEATS)]

        def poll():
            run.expect(len(service.list_resources()["resources"]) == 2, "list_resources")

        api: list[float] = []
        wait_polling(run, [job], poll, api)
        done = [time.perf_counter()]
        for skip in repeats:
            wait_job(run, skip)
            done.append(time.perf_counter())

        nbytes = 0
        if job.status == "done" and run.expect(job.result is not None,
                                               f"{rid}: conversion skipped"):
            nbytes = check_conversion(run, service, rid, convert["version"], expected)
            versioned = Path(job.result[0])
            versioned.unlink()
            versioned.with_name(f".{versioned.name}.crc").unlink(missing_ok=True)
        for skip in repeats:
            run.expect(skip.result is None, f"{rid}: repeated version was converted again")
        return {"work_s_p50": done[0] - t0,
                "skip_s_p50": [b - a for a, b in zip(done, done[1:])], "api": api,
                "out_bytes_per_in_byte": nbytes / csv_bytes}

    def iteration(self) -> dict:
        return self._iteration("bulk", self.expected, self.record.csv_bytes)


# --- harvest_small -------------------------------------------------------------


class HarvestSmall:
    """A fake IPT serving 12 small archives, one per variant of the
    FIXTURES.md mix, driven by one client through the HTTP skin. A cycle,
    against an empty store: list, burst-GET every resource, wait for the
    jobs, POST both catalogs and wait (the harvest pass); then the same GETs
    with versions unchanged, every job taking the idempotent skip path (the
    re-harvest pass). The client polls the listing while it waits."""

    def __init__(self, run: Run):
        import gen

        self.run = run
        self.resources = gen.make_harvest(run.seed, HARVEST_ARCHIVES, HARVEST_ROWS)
        self.warm_resources = gen.make_harvest(run.seed + 10_000, 1, 200)
        self.cycles = 0

    def prepare(self) -> None:
        import check

        for r in self.resources + self.warm_resources:
            r.expected = check.expected_fid_geom(self.run.con, r.record)

    def setup(self) -> None:
        self._cycle(self.warm_resources, catalogs=False)

    def _request(self, method: str, url: str) -> dict | None:
        run = self.run
        try:
            with run.request(f"httpd.{method}", url):
                with urllib.request.urlopen(urllib.request.Request(url, method=method),
                                            timeout=60) as resp:
                    status, body = resp.status, resp.read()
        except OSError as exc:  # HTTPError included: a non-200 answer
            run.expect(False, f"{method} {url}: {exc}")
            return None
        if not run.expect(status == 200, f"{method} {url}: HTTP {status}"):
            return None
        return json.loads(body)

    def _get_all(self, service, api: str, resources, burst: list[float]) -> list:
        jobs = []
        for r in resources:
            t = time.perf_counter()
            resp = self._request("GET", f"{api}/resources/{r.rid}")
            burst.append(time.perf_counter() - t)
            if resp is not None:
                jobs.append(find_job(service, resp["job_id"]))
        return jobs

    def _cycle(self, resources, catalogs: bool = True) -> dict:
        from dwca_parquet_spark import httpd

        run = self.run
        self.cycles += 1
        store = run.work / f"store-{self.cycles}"
        service = make_service(run, FakeIpt(resources), store)
        server = httpd.serve(service)
        api = f"http://127.0.0.1:{server.server_address[1]}/api/v1"
        rids = sorted(r.rid for r in resources)
        lat: list[float] = []
        burst: list[float] = []

        def poll():
            listing = self._request("GET", f"{api}/resources") or {"resources": []}
            run.expect(sorted(r["id"] for r in listing["resources"]) == rids,
                       "resource listing")

        try:
            t0 = time.perf_counter()
            poll()
            wait_polling(run, self._get_all(service, api, resources, burst), poll, lat)
            for catalog in ("csw", "geoapi") if catalogs else ():
                resp = self._request("POST", f"{api}/resources/{catalog}")
                if resp is not None:
                    wait_polling(run, [find_job(service, resp["job_id"])], poll, lat)
            harvest_s = time.perf_counter() - t0

            nbytes = sum(check_conversion(run, service, r.rid, 1, r.expected)
                         for r in resources)
            if catalogs:
                self._check_catalogs(service, resources)
            before = _snapshot(store)

            t1 = time.perf_counter()
            rejobs = self._get_all(service, api, resources, burst)
            wait_polling(run, rejobs, poll, lat)
            reharvest_s = time.perf_counter() - t1
            for job in rejobs:
                run.expect(job.result is None, f"re-harvest job {job.id} did not skip")
            run.expect(_snapshot(store) == before, "re-harvest changed the outputs")
        finally:
            server.shutdown()
            server.server_close()
            shutil.rmtree(store, ignore_errors=True)
        return {"work_s_p50": harvest_s, "skip_s_p50": reharvest_s, "api": lat,
                "burst": burst,
                "out_bytes_per_in_byte":
                    nbytes / sum(r.record.csv_bytes for r in resources)}

    def _check_catalogs(self, service, resources) -> None:
        import pyarrow.parquet as pq

        run, cfg = self.run, service.cfg
        rids = sorted(r.rid for r in resources)
        csw = Path(cfg.store) / cfg.csw_path.lstrip("/")
        geo = Path(cfg.store) / cfg.geoapi_path.lstrip("/")
        if run.expect(csw.is_file(), "CSW catalog missing"):
            ids = pq.read_table(csw, columns=["identifier"]).column(0).to_pylist()
            run.expect(sorted(ids) == [f"10.99999/bench/{r}/v1" for r in rids],
                       f"CSW catalog: {len(ids)} records for {len(rids)} datasets")
        if run.expect(geo.is_file(), "geoapi catalog missing"):
            host = cfg.catalog.ipt_url.replace("https://", "")
            ids = sorted(c["id"] for c in json.loads(geo.read_text()))
            run.expect(ids == [f"{host}/{r}" for r in rids],
                       f"geoapi catalog: {len(ids)} ids for {len(rids)} datasets")

    def iteration(self) -> dict:
        return self._cycle(self.resources)


def _snapshot(store: Path) -> dict[str, tuple[int, int]]:
    return {str(p.relative_to(store)): (p.stat().st_size, p.stat().st_mtime_ns)
            for p in store.rglob("*") if p.is_file()}


def measure(run: Run, wl) -> list[dict]:
    """Repeat the workload's iteration for ``run.seconds`` and at least
    MIN_ITERATIONS times."""
    its = []
    t_end = time.perf_counter() + run.seconds
    while len(its) < MIN_ITERATIONS or time.perf_counter() < t_end:
        its.append(wl.iteration())
    return its


def measure_traced(run: Run, wl, tracer) -> tuple[list[dict], list[dict]]:
    """Untraced and traced iterations in pairs, each kind repeated as in
    ``measure``; the order within a pair alternates, so that warm-up drift
    falls on both kinds alike."""

    def traced_iteration():
        tracer.install(FakeIpt)
        run.request = tracer.request
        try:
            traced.append(wl.iteration())
        finally:
            tracer.uninstall()
            run.request = lambda name, req: nullcontext()

    plain, traced = [], []
    t_end = time.perf_counter() + run.seconds
    while len(traced) < MIN_ITERATIONS or time.perf_counter() < t_end:
        if len(traced) % 2:
            traced_iteration()
            plain.append(wl.iteration())
        else:
            plain.append(wl.iteration())
            traced_iteration()
    return plain, traced


def summarize(iterations: list[dict]) -> dict:
    """Medians over a measurement's iterations; API latency over all calls."""
    samples = {k: [v for it in iterations
                   for v in (it[k] if isinstance(it[k], list) else [it[k]])]
               for k in ("work_s_p50", "skip_s_p50", "out_bytes_per_in_byte", "api")}
    out = {k: statistics.median(samples[k])
           for k in ("work_s_p50", "skip_s_p50", "out_bytes_per_in_byte")}
    out["api_ms_p50"] = 1000 * statistics.median(samples["api"])
    out["api_calls"] = len(samples["api"])
    api = sorted(samples.pop("api"))
    samples["api_ms_deciles"] = [1000 * q for q in statistics.quantiles(api, n=10)]
    burst = [t for it in iterations for t in it.get("burst", ())]
    if burst:
        samples["burst_get_ms_p50"] = 1000 * statistics.median(burst)
    out["samples"] = samples
    return out


WORKLOADS = {"convert_bulk": ConvertBulk, "harvest_small": HarvestSmall}


# --- process-level measurements --------------------------------------------------


def _peak_rss_kb(pid: int | str) -> int:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def reset_peak_rss() -> None:
    """Restart this process's peak-RSS count (VmHWM), so that input
    generation does not count as the engine's memory."""
    try:
        Path("/proc/self/clear_refs").write_text("5")
    except OSError:
        pass


def stop_jvm(run: Run) -> None:
    """Stop the session and the gateway JVM, and wait until the JVM exits."""
    from pyspark import SparkContext

    if run.spark is not None:
        run.spark.stop()
        run.spark = None
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(30)


def environment(java: str) -> dict:
    import duckdb
    import numpy
    import pyarrow
    import pyspark

    return {"spark": pyspark.__version__, "duckdb": duckdb.__version__,
            "pyarrow": pyarrow.__version__, "numpy": numpy.__version__, "java": java,
            "python": sys.version.split()[0], "nproc": int(CPUS),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM")}


def layer_metrics(tracer, iterations: int, get_spark_s: list[float]) -> dict:
    """Per-layer metrics of one traced measurement: totals per iteration
    (one conversion with its repeat, or one harvest + re-harvest cycle),
    except the median session start and the mean queue wait per job."""
    s = tracer.summary()
    n = max(iterations, 1)

    def per_it(name: str, key: str = "total_s") -> float:
        return sum(r[key] for k, r in s.items() if k == name or k.startswith(name + ".")) / n

    jobs = [sp for sp in tracer.spans if sp["name"].startswith("service.job_")]
    m = {
        "session.get_spark_s": statistics.median(get_spark_s),
        "service.job_s": sum(sp["end"] - sp["start"] for sp in jobs) / n,
        "service.queue_wait_s": statistics.mean(sp["queue_wait_s"] for sp in jobs) if jobs else 0.0,
        "service.jobs_skipped": sum(1 for sp in tracer.spans if sp.get("skipped")) / n,
        "httpd.requests": per_it("httpd", "calls"),
        "httpd.request_s": per_it("httpd"),
        "sources.ipt.fetch_bytes": per_it("sources.ipt.fetch", "bytes"),
        "sources.ipt.parse_eml_s": per_it("sources.ipt.parse_eml"),
        "sources.dwca.stage_archive_s": per_it("sources.dwca.stage_archive"),
        "sources.dwca.staged_bytes": per_it("sources.dwca.stage_archive", "bytes"),
        "sources.dwca.read_layer_s": per_it("sources.dwca.read_layer"),
        "sources.dwca.read_layer_jobs": per_it("sources.dwca.read_layer", "jobs"),
        "plans.flatten.dwca_flatten_s": per_it("plans.flatten.dwca_flatten"),
        "functions.geometry.validate_wkt_calls":
            per_it("functions.geometry.validate_wkt", "calls"),
        "plans.csw.eml_to_csw_records_s": per_it("plans.csw.eml_to_csw_records"),
        "plans.geoapi.ipt_to_pygeoapi_resources_s":
            per_it("plans.geoapi.ipt_to_pygeoapi_resources"),
        "sinks.jsonarray.write_json_array_s": per_it("sinks.jsonarray.write_json_array"),
        "sinks.parquet.write_parquet_s": per_it("sinks.parquet.write_parquet"),
        "sinks.parquet.write_parquet_jobs": per_it("sinks.parquet.write_parquet", "jobs"),
        "sinks.parquet.write_parquet_tasks": per_it("sinks.parquet.write_parquet", "tasks"),
        "sinks.parquet.bytes_written": per_it("sinks.parquet.write_parquet", "bytes"),
        "fs.calls": per_it("fs", "calls"),
        "fs.copy_s": per_it("fs.copy"),
    }
    for key, v in tracer.spark_totals().items():
        m[f"spark.{key}"] = v / n
    return m


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_written"):
        return "bytes"
    return "%" if name.endswith("_pct") else "count"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    enter_work_dir(run)
    try:
        return measure_run(run)
    finally:
        leave_work_dir(run)


def enter_work_dir(run: Run) -> None:
    """Create the run's work directory and keep every scratch file of the
    engine, its JVM and its Python workers inside it."""
    shutil.rmtree(run.work, ignore_errors=True)
    tmp = run.work / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update({
        "TMPDIR": str(tmp), "SPARK_LOCAL_DIRS": str(tmp),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS", CPUS),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM", HEAP),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    sys.path[:0] = [str(HERE), str(ROOT)]
    os.chdir(run.work)  # spark-warehouse/ and the like land here


def leave_work_dir(run: Run) -> None:
    try:
        stop_jvm(run)
    except ImportError:  # pyspark is not installed
        pass
    if run.con is not None:
        run.con.close()
    os.chdir(ROOT)
    shutil.rmtree(run.work, ignore_errors=True)


def measure_run(run: Run) -> int:
    import bench  # the host-contention canary, shared with bench.py
    import check
    from tracing import LAZY_NOTE, Tracer

    canary_before = bench.canary_sec()
    wl = WORKLOADS[run.workload](run)
    run.con = check.duck(run.work)
    wl.prepare()
    reset_peak_rss()

    setup_s, get_spark_s = [], []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        get_spark_s.append(run.start_spark())
        wl.setup()
        setup_s.append(time.perf_counter() - t0)

    if run.trace:
        tracer = Tracer()
        plain, traced_its = measure_traced(run, wl, tracer)
    else:
        plain = measure(run, wl)
    e2e = summarize(plain)
    record = {"workload": run.workload, "seed": run.seed, "seconds": run.seconds,
              "iterations": len(plain), "api_calls": e2e.pop("api_calls"),
              "samples": e2e.pop("samples"), "setup_runs_s": setup_s}
    e2e["setup_s"] = statistics.median(setup_s)

    if run.trace:
        tracer.resolve_spark(run.spark.sparkContext)
        layers = layer_metrics(tracer, len(traced_its), get_spark_s)
        traced = {k: v for k, v in summarize(traced_its).items() if k in UNITS}
        layers["trace.overhead_pct"] = 100 * (traced["work_s_p50"] / e2e["work_s_p50"] - 1)
        record["tracing_overhead"] = {k: traced[k] - e2e[k] for k in traced}
        spans = run.results / f"spans-{run.workload}-{run.seed}-{os.getpid()}.json"
        tracer.write(spans, {"workload": run.workload, "seed": run.seed,
                             "iterations": len(traced_its)})
        record.update(traced=traced, spans_file=str(spans.relative_to(ROOT)),
                      note=LAZY_NOTE)

    from pyspark import SparkContext

    java = run.spark._jvm.java.lang.System.getProperty("java.version")
    peak_mb = {"python": _peak_rss_kb("self") / 1024,
               "jvm": _peak_rss_kb(SparkContext._gateway.proc.pid) / 1024}
    record["peak_rss_mb_by_process"] = peak_mb
    e2e["peak_rss_mb"] = peak_mb["python"] + peak_mb["jvm"]
    e2e["ok_rate"] = 1 - len(run.failures) / max(run.attempted, 1)
    stop_jvm(run)
    canary_after = bench.canary_sec()

    record.update({
        "environment": environment(java),
        "canary_sec": {"before": canary_before, "after": canary_after,
                       "healthy": bench.CANARY_HEALTHY_SEC},
        "attempted": run.attempted, "failed": len(run.failures),
        "fail_rate": len(run.failures) / max(run.attempted, 1),
        "failures": run.failures[:20],
        "end_to_end": {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()},
    })
    if run.trace:
        record["per_layer"] = {k: {"value": v, "unit": layer_unit(k)}
                               for k, v in layers.items()}
    run.results.mkdir(parents=True, exist_ok=True)
    out = run.results / f"result-{run.workload}-{run.seed}-{os.getpid()}.json"
    out.write_text(json.dumps(record, indent=1))
    print(json.dumps(record))
    print(json.dumps({"correct": not run.failures, "attempted": max(run.attempted, 1),
                      "failed": len(run.failures),
                      "metrics": record["per_layer" if run.trace else "end_to_end"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
