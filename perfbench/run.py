#!/usr/bin/env python3
"""Full-output, layered benchmark of graft.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
                             [--size bench|smoke]

Builds the library with the benchmark sources (perfbench/build.py), runs one
workload in one JVM at local[cores] with one serial client, replays the
library's DuckDB oracle SQL over the outputs it kept, and prints one JSON
object as the last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 gives the end-to-end metrics, --trace 1 the per-layer metrics of a
traced run (spans go to perfbench/out/trace-<workload>-<seed>.json). All
scratch state lives under perfbench/work/ and is removed at exit. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import json
import math
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True
import build  # noqa: E402

TIMEOUT_S = 170
# A run is flagged contended when other guests took more than this share of
# the host's CPU time. The load average cannot tell: a run keeps its own
# cores busy.
STOLEN_CONTENDED = 0.02


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def expected_metrics(trace):
    """Metric names the result must carry, from BENCHMARK.json when present."""
    spec = os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")
    if not os.path.exists(spec):
        return None
    with open(spec) as fh:
        j = json.load(fh)
    return [m["name"] for m in j["per_layer" if trace else "end_to_end"]]


def norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.4f}"
    return str(v)


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


def replay_oracles(work):
    """Replay the oracle SQL kept by the checking pass in DuckDB over the
    run's lake and compare with the kept outputs (columns by name, rows
    sorted, floats to four decimals). Returns the failure messages."""
    spec = os.path.join(work, "oracle", "oracle_sql.json")
    if not os.path.exists(spec):
        return []
    with open(spec) as fh:
        oracle = json.load(fh)
    try:
        import duckdb
    except ImportError:
        return [f"{k}: duckdb is not installed, oracle not replayed" for k in oracle]
    lake = os.path.join(work, "lake")
    fails = []
    for key, sql in sorted(oracle.items()):
        con = duckdb.connect()
        try:
            for t in glob.glob(os.path.join(lake, "*.parquet")):
                name = os.path.basename(t)[:-len(".parquet")]
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}/*.parquet')")
            s = con.execute(f"SELECT * FROM read_parquet('{work}/oracle/{key}/*.parquet')")
            scols = [d[0] for d in s.description]
            srows = s.fetchall()
            o = con.execute(sql)
            ocols = [d[0] for d in o.description]
            orows = o.fetchall()
            if sorted(scols) != sorted(ocols):
                fails.append(f"{key}: columns {sorted(scols)} vs oracle {sorted(ocols)}")
            elif canon(scols, srows) != canon(ocols, orows):
                fails.append(f"{key}: {len(srows)} rows differ from the oracle's {len(orows)}")
        except Exception as e:  # a broken replay is a failed check
            fails.append(f"{key}: oracle replay failed: {e}")
        finally:
            con.close()
    log(f"DuckDB oracle replay: {len(oracle) - len(fails)} of {len(oracle)} match")
    return fails


def cpu_ticks():
    """Host CPU ticks by state from /proc/stat (None where there is none)."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=build.WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--size", default="bench", choices=("bench", "smoke"))
    a = ap.parse_args()

    build.build()
    work = os.path.join(BENCH, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    out = os.path.join(BENCH, "out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = build.main_cmd(
        [f"-XX:SharedArchiveFile={build.ARCHIVE}", "-Xshare:on"], work,
        ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
         "--trace", a.trace, "--size", a.size, "--trace-out",
         os.path.join(out, f"trace-{a.workload}-{a.seed}.json") if a.trace == "1" else ""])
    ticks0 = cpu_ticks()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=build.clean_env(), cwd=work,
                            start_new_session=True, text=True)
    try:
        stdout, _ = proc.communicate(timeout=TIMEOUT_S)
        if proc.returncode != 0:
            raise SystemExit(f"benchmark JVM exited with {proc.returncode}")
        result = json.loads(stdout.strip().splitlines()[-1])
        fails = replay_oracles(work)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"benchmark did not finish within {TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(os.path.join(BENCH, "work")):
            os.rmdir(os.path.join(BENCH, "work"))

    ticks1 = cpu_ticks()
    if ticks0 and ticks1 and len(ticks0) > 7:
        d = [y - x for x, y in zip(ticks0, ticks1)]
        # steal: time the hypervisor gave this machine's CPUs to other guests
        stolen = d[7] / sum(d)
        log(f"host CPU during the run: busy {1 - (d[3] + d[4]) / sum(d):.2f}, "
            f"stolen {stolen:.3f}" + (" CONTENDED" if stolen > STOLEN_CONTENDED else ""))
    for f in fails:
        log(f"FAILED {f}")
    result["failed"] += len(fails)
    result["correct"] = result["correct"] and not fails
    want = expected_metrics(a.trace == "1")
    if want is not None:
        missing = [m for m in want if m not in result["metrics"]]
        if missing:
            raise SystemExit(f"result lacks metrics {missing}")
        result["metrics"] = {m: result["metrics"][m] for m in want}
    log(f"failed_frac {result['failed'] / result['attempted']:.4f} "
        f"({result['failed']} of {result['attempted']} operations)")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
