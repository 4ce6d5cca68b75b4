#!/usr/bin/env python
"""Isolate one or more registry entries for optimization work (guide §1).

Usage:
    python scripts/profile_entry.py ENTRY [ENTRY ...] \
        [--sf-dir DIR] [--reps N] [--action noop|count] [--explain OUT_DIR]

For each entry: runs it REPS times (fresh plan each time, caches released
between reps like bench.py does), timing each rep, optionally through the
noop sink (times computation of every column, not the count-pruned tree),
and optionally dumps .explain("formatted") to OUT_DIR/<entry>.txt.

Reps separate one-time cost (JIT/codegen/staging builds) from steady-state
cost: rep1 >> rep2 ≈ rep3 means fixed overhead, not data work.
"""

from __future__ import annotations

import argparse
import os
import sys
import time


def _key_value(text: str) -> tuple[str, str]:
    """argparse type for K=V options: a malformed value is a usage error."""
    key, sep, value = text.partition("=")
    if not sep or not key:
        raise argparse.ArgumentTypeError(f"expected K=V, got {text!r}")
    return key, value


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("entries", nargs="+")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--action", choices=["noop", "count"], default="noop")
    ap.add_argument("--explain", default=None, help="directory for explain('formatted') dumps")
    ap.add_argument("--suffix", default="", help="filename suffix for explain dumps, e.g. _before")
    ap.add_argument(
        "--conf", action="append", default=[], type=_key_value, help="extra spark conf k=v"
    )
    ap.add_argument(
        "--ab-conf",
        action="append",
        default=[],
        type=_key_value,
        help="A/B mode: runtime spark conf k=v applied only in the B arm",
    )
    ap.add_argument(
        "--ab-env",
        action="append",
        default=[],
        type=_key_value,
        help="A/B mode: env var K=V applied only in the B arm",
    )
    args = ap.parse_args()

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")
    from datasheet_etl_spark.caching import release_caches
    from datasheet_etl_spark.plans import registry
    from datasheet_etl_spark.session import get_session

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    extra = dict(args.conf)
    spark = get_session(app_name="profile_entry", shuffle_partitions=cpus, extra_conf=extra)
    reg = registry()

    def cleanup() -> None:
        release_caches()
        spark.catalog.clearCache()
        for t in spark.catalog.listTables():
            if t.isTemporary:
                spark.catalog.dropTempView(t.name)

    def ticks():
        p = open("/proc/stat").readline().split()
        return int(p[1]), int(p[3]), int(p[8])

    def calib():
        # fixed single-thread spin: measures current CPU execution speed
        # directly, catching contention that steal accounting cannot see
        # (SMT-sibling/frequency degradation — observed 8-20x entry
        # pollution at steal 0.007 on this host); compare reps via the
        # printed ms — a rep whose probe ran >1.3x the session minimum
        # was measured on a degraded CPU
        best = None
        for _ in range(3):
            t0 = time.perf_counter()
            n = 400_000
            while n:
                n -= 1
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        return best

    ab_conf = dict(args.ab_conf)
    ab_env = dict(args.ab_env)
    ab_mode = bool(ab_conf or ab_env)

    def timed_run(name: str, label: str) -> tuple[float, float, float]:
        spark.sparkContext.setJobDescription(f"{name} {label}")
        k0 = ticks()
        t0 = time.perf_counter()
        df = reg[name](spark, args.sf_dir)
        if args.action == "noop":
            df.write.format("noop").mode("overwrite").save()
        else:
            df.count()
        wall = round(time.perf_counter() - t0, 3)
        k1 = ticks()
        busy = sum(b - a for a, b in zip(k0, k1))
        steal = round((k1[2] - k0[2]) / busy, 3) if busy else 0.0
        cal = round(calib() * 1000, 1)
        cleanup()
        return wall, steal, cal

    class _b_arm:
        """Apply the B-arm conf/env overrides for one run, restore after."""

        def __enter__(self):
            self.prev_conf = {}
            for k, v in ab_conf.items():
                try:
                    self.prev_conf[k] = spark.conf.get(k)
                except Exception:
                    self.prev_conf[k] = None
                spark.conf.set(k, v)
            self.prev_env = {k: os.environ.get(k) for k in ab_env}
            os.environ.update(ab_env)

        def __exit__(self, *exc):
            for k, v in self.prev_conf.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
            for k, v in self.prev_env.items():
                if v is None:
                    os.environ.pop(k, None)
                else:
                    os.environ[k] = v

    def median(xs):
        s = sorted(xs)
        n = len(s)
        return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2

    for name in args.entries:
        if name not in reg:
            print(f"!! unknown entry {name}", file=sys.stderr)
            continue
        if ab_mode:
            # ABBA-paired A/B (OPTIMIZATION_r15 methodology note: plain
            # A-then-B pairs on this host carry 10-25% systematic drift
            # — a batch control entry 'improved' 0.75x under a knob that
            # cannot touch it). Alternating the order cancels first-mover
            # bias; the per-position medians expose any residual drift.
            arm_walls: dict[str, list[float]] = {"A": [], "B": []}
            pos_walls: dict[int, list[float]] = {0: [], 1: []}
            for pair in range(args.reps):
                order = ["A", "B"] if pair % 2 == 0 else ["B", "A"]
                for pos, arm in enumerate(order):
                    if arm == "B":
                        with _b_arm():
                            w, s, c = timed_run(name, f"ab pair{pair} {arm}")
                    else:
                        w, s, c = timed_run(name, f"ab pair{pair} {arm}")
                    arm_walls[arm].append(w)
                    pos_walls[pos].append(w)
                    print(
                        f"  {name} pair{pair} pos{pos} arm={arm}: {w}s "
                        f"steal={s} calib_ms={c}",
                        file=sys.stderr,
                    )
            ma, mb = median(arm_walls["A"]), median(arm_walls["B"])
            print(
                f"{name}: A={arm_walls['A']} B={arm_walls['B']} "
                f"medianA={ma} medianB={mb} B/A={mb / ma:.3f} "
                f"pos0_median={median(pos_walls[0])} "
                f"pos1_median={median(pos_walls[1])} ({args.action}, ABBA)"
            )
            continue
        walls = []
        steals = []
        calibs = []
        for rep in range(args.reps):
            if rep == 0 and args.explain:
                os.makedirs(args.explain, exist_ok=True)
                out = os.path.join(args.explain, f"{name}{args.suffix}.txt")
                # build first for a clean pre-execution plan
                plan_df = reg[name](spark, args.sf_dir)
                with open(out, "w") as fh:
                    fh.write(plan_df._jdf.queryExecution().explainString(
                        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
                    ))
                cleanup()
            w, s, c = timed_run(name, f"rep{rep}")
            walls.append(w)
            steals.append(s)
            calibs.append(c)
        print(f"{name}: {walls} steal={steals} calib_ms={calibs} ({args.action})")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
