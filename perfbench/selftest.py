#!/usr/bin/env python3
"""Self-test of the benchmark itself (not of the engine):

1. the generator is deterministic: one seed gives byte-identical archives,
   RSS and EML; another seed gives the same total rows and variant mix;
2. the output checks catch errors: a real conversion through the service
   passes them, and the same output with one row dropped, or with a
   ``latest`` that differs from the versioned file, fails them, so the
   run's fail rate goes above 0.

    python3 perfbench/selftest.py      (from the repository root; ~20 s)
"""

from __future__ import annotations

import sys
from collections import Counter

import run as bench_run


def check_determinism() -> None:
    import gen
    import numpy as np

    n, total = bench_run.HARVEST_ARCHIVES, bench_run.HARVEST_ROWS
    a, b = gen.make_harvest(7, n, total), gen.make_harvest(7, n, total)
    c = gen.make_harvest(8, n, total)
    if any(x.archive != y.archive for x, y in zip(a, b)):
        raise SystemExit("same seed, different archive bytes")
    ipt_a, ipt_b = bench_run.FakeIpt(a), bench_run.FakeIpt(b)
    for url in [f"{gen.IPT_URL}/rss"] + [f"{gen.IPT_URL}/eml.do?r={r.rid}" for r in a]:
        if ipt_a.fetch(url) != ipt_b.fetch(url):
            raise SystemExit(f"same seed, different bytes at {url}")
    for rs in (a, c):
        if sum(len(r.record.fid) for r in rs) != total:
            raise SystemExit("total core rows depend on the seed")

    def mix(rs):
        return Counter((r.variant.sep, r.variant.encoding, r.variant.n_ext,
                        r.variant.fanout_max, r.variant.footprint_frac) for r in rs)

    if mix(a) != mix(c):
        raise SystemExit("variant mix depends on the seed")
    one = gen.make_archive(np.random.default_rng([7, 1]), 5_000, gen.Variant())
    two = gen.make_archive(np.random.default_rng([7, 1]), 5_000, gen.Variant())
    if one[0] != two[0]:
        raise SystemExit("same seed, different bulk archive bytes")
    print("generator: deterministic per seed; rows and variants fixed across seeds")


def check_corruption_is_caught() -> None:
    import check
    import gen
    import numpy as np
    import pyarrow.parquet as pq

    run = bench_run.Run("selftest", 7, 1.0, False)
    bench_run.enter_work_dir(run)
    try:
        run.con = check.duck(run.work)
        blob, record = gen.make_archive(np.random.default_rng([7, 1]), 2_000, gen.Variant())
        ipt = bench_run.FakeIpt([gen.Resource("t", "Test", gen.Variant(), blob, record)])
        expected = check.expected_fid_geom(run.con, record)
        run.start_spark()
        service = bench_run.make_service(run, ipt, run.work / "store")
        resp = service.get_resource("t")
        bench_run.wait_job(run, bench_run.find_job(service, resp["job_id"]))
        bench_run.check_conversion(run, service, "t", resp["version"], expected)
        if run.failures:
            raise SystemExit(f"a correct conversion failed its checks: {run.failures}")

        versioned = f"{service.cfg.resources_base}/t/v1.parquet"
        table = pq.read_table(versioned)
        pq.write_table(table.slice(0, table.num_rows - 1), versioned)  # one row lost
        bench_run.check_conversion(run, service, "t", resp["version"], expected)
        if not any("(rows, digest)" in f for f in run.failures):
            raise SystemExit("a dropped row went unnoticed")
        if not any("latest differs" in f for f in run.failures):
            raise SystemExit("latest != versioned went unnoticed")
        fail_rate = len(run.failures) / run.attempted
        if not fail_rate > 0:
            raise SystemExit("fail rate stayed 0 on corrupted output")
        print(f"checks: corrupted output caught, fail_rate={fail_rate:.3f} "
              f"({len(run.failures)}/{run.attempted})")
    finally:
        bench_run.leave_work_dir(run)


if __name__ == "__main__":
    sys.path[:0] = [str(bench_run.HERE), str(bench_run.ROOT)]
    check_determinism()
    check_corruption_is_caught()
    print("selftest ok")
