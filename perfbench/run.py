#!/usr/bin/env python3
"""The repository's benchmark: runs one workload of library queries end to
end, or traced and split by layer, and prints one JSON result line.

    python3 perfbench/run.py --workload mutate_rows --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. The first run builds the library and
the harness (perfbench/build.sbt) into perfbench/target and the scaled
input into .bench_build/data; later runs reuse both. Every key's result is
reduced to a digest and compared with perfbench/golden.json.

`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
the per-layer ones; perfbench/layers.json names the end-to-end metric and
workload each layer metric should move. `--golden DIR` instead dumps the
workload's results to DIR, checks them against DuckDB with
tools/check_oracle.py and, if all match, records their digests.
"""
import argparse
import hashlib
import json
import math
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_CYCLES = 3
# Shuffle partitions and default parallelism per task thread. With one
# task per core, a vCPU the host briefly takes away stalls a quarter of
# every stage; with four, the other cores take over its remaining tasks.
PARTITIONS_PER_CORE = 4
RUN_LIMIT_S = 175  # the whole run, build and input excepted
MB = float(1 << 20)


# ---- pure helpers (unit-tested in test_perfbench.py) ----

def key_order(keys, seed, pass_index):
    """The key order of one pass: a pure function of seed and pass."""
    order = sorted(keys)
    random.Random(f"{seed}:{pass_index}").shuffle(order)
    return order


def tail_percentile(values, target=0.90, beyond=10):
    """The highest nearest-rank percentile not above `target` that leaves
    at least `beyond` samples above it. Returns (value, percentile, n);
    with too few samples for any such percentile, the median."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return None, None, 0
    rank = math.ceil(target * n - 1e-9)
    if rank <= n - beyond:
        return xs[rank - 1], target, n
    rank = n - beyond
    if rank < 1:
        return statistics.median(xs), 0.5, n
    return xs[rank - 1], round(rank / n, 4), n


# ---- environment ----

def driver_heap():
    """The tier-1 heap rule: half the machine's memory, 2g to 8g."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def tmpdir_election():
    """What build.sbt elects as java.io.tmpdir for `sbt run`."""
    if os.environ.get("SPARK_GRAFT_TMPDIR"):
        return os.environ["SPARK_GRAFT_TMPDIR"]
    min_free = int(os.environ.get("SPARK_GRAFT_TMPDIR_MIN_FREE", "32"))
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        st = os.statvfs("/dev/shm")
        if st.f_bavail * st.f_frsize >= min_free << 30:
            return "/dev/shm/graft_tmp"
    return None


def source_digest(root):
    h = hashlib.sha256()
    for base in ("src/main", "perfbench/src", "perfbench/build.sbt"):
        top = os.path.join(root, base)
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def cpu_times():
    """The machine's CPU time counters from /proc/stat, steal included."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


def steal_frac(before, after):
    """Share of CPU time the hypervisor gave to other guests in between."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else None


def git_commit(root):
    if not os.path.exists(os.path.join(root, ".git")):
        return None
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                       capture_output=True, text=True)
    return r.stdout.strip() or None


# ---- build, input, JVM ----

def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars(root):
    """The Spark jar directory the library's own build.sbt names."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m is None:
        fail("build.sbt names no unmanagedBase Spark jar directory")
    return m.group(1)


def build(root, work):
    """Compiles library plus harness once per source state."""
    stamp = os.path.join(work, "build.stamp")
    digest = source_digest(root)
    if os.path.isfile(stamp):
        with open(stamp) as f:
            if f.read() == digest:
                return
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = [sbt, "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.forcestart=false", "-Dsbt.offline=true",
           f"-Dsbt.global.base={work}/sbt-global",
           f"-Dperfbench.sparkJars={spark_jars(root)}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        cmd += ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repos}"]
    with open(os.path.join(work, "build.log"), "w") as log:
        r = subprocess.run(cmd + ["compile"], cwd=HERE, stdout=log,
                           stderr=subprocess.STDOUT, timeout=850, env=env)
    if r.returncode != 0:
        fail(f"build failed, see {work}/build.log", 3)
    with open(stamp, "w") as f:
        f.write(digest)


def jvm(work, heap, args, timeout, log_name):
    root = os.path.dirname(work)
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{spark_jars(root)}/*", "perfbench.Harness"]
    with open(os.path.join(work, log_name), "w") as log:
        proc = subprocess.Popen(cmd + args, stdout=subprocess.PIPE,
                                stderr=log, text=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            # SIGTERM first, so the JVM's shutdown hooks remove its scratch
            proc.terminate()
            try:
                proc.communicate(timeout=15)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.communicate()
            fail(f"harness passed its {timeout} s limit, see {work}/{log_name}", 4)
    if proc.returncode != 0:
        fail(f"harness exited {proc.returncode}, see {work}/{log_name}", 4)
    return out


def dataset_dir(root, work, spec, name, heap):
    """The input of a dataset, built once per checkout from the committed
    sf0.01 tables; its row counts are checked before first use."""
    ds = spec["datasets"][name]
    if ds["base"] is None:
        return os.path.join(HERE, "data", name)
    dst = os.path.join(work, "data", name)
    checked = os.path.join(dst, "_CHECKED")
    if not os.path.isfile(checked):
        out = jvm(work, heap, ["mode=input", f"base={HERE}/data/{ds['base']}",
                               f"dst={dst}", f"cores={cores()}"],
                  600, "input.log")
        rows = {l.split()[1]: int(l.split()[2])
                for l in out.splitlines() if l.startswith("rows ")}
        for t, n in rows.items():
            if n != ds["rows"][t]:
                fail(f"{name}.{t} has {n} rows, expected {ds['rows'][t]}")
        if not rows:
            fail(f"no row counts for {name}")
        open(checked, "w").close()
    return dst


def cores():
    return len(os.sched_getaffinity(0))


def make_golden(work, heap, spec, wl, data, keys, out):
    """Dumps each key's result to `out`, checks it against DuckDB with
    tools/check_oracle.py on the same input, and only if every key matches
    records its digest in golden.json."""
    jvm(work, heap, ["mode=dump", f"data={data}", f"keys={','.join(keys)}",
                     f"out={out}", f"cores={cores()}"], 1800, "dump.log")
    check = subprocess.run(
        [sys.executable, os.path.join(os.path.dirname(HERE), "tools",
                                      "check_oracle.py"), data, out],
        capture_output=True, text=True)
    print(check.stdout, end="")
    if check.returncode != 0 or f"{len(keys)}/{len(keys)} queries match" \
            not in check.stdout:
        fail("oracle check failed; golden digests left unchanged", 5)
    path = os.path.join(HERE, "golden.json")
    with open(path) as f:
        golden = json.load(f)
    with open(os.path.join(out, "digests.tsv")) as f:
        for line in f:
            key, digest = line.split()
            golden.setdefault(wl["dataset"], {})[key] = digest
    with open(path, "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"golden digests of {len(keys)} keys written to {path}")


# ---- metrics ----

def e2e_metrics(raw, input_rows):
    setups = raw["setups"]
    timed = [p for p in raw["passes"] if not p["traced"]]
    per_key = {}
    for p in timed:
        for k in p["keys"]:
            per_key.setdefault(k["key"], []).append(k["s"])
    # a typical pass: each key at its median, so one key's stall in one
    # pass does not pick the pass
    pass_s = sum(statistics.median(v) for v in per_key.values())
    key_s = [s for v in per_key.values() for s in v]
    p90, q90, n = tail_percentile(key_s)
    m = {
        "setup_s": (statistics.median(s["session_s"] + s["warm_s"]
                                      for s in setups), "s", len(setups)),
        "pass_s": (pass_s, "s", len(timed)),
        "rows_per_s": (input_rows / pass_s, "1/s", len(timed)),
        "key_s_p50": (statistics.median(key_s), "s", n),
        "key_s_p90": (p90, "s", n),
        "peak_rss_mb": (raw["vmhwm_mb"], "MB", 1),
        "fail_frac": (raw["failed"] / raw["attempted"], "ratio",
                      raw["attempted"]),
    }
    detail = {k: {"value": v, "unit": u, "samples": s}
              for k, (v, u, s) in m.items()}
    detail["key_s_p90"]["percentile"] = q90
    return detail


def interval_union(spans):
    total, end = 0.0, -math.inf
    for a, b in sorted(spans):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def layer_metrics(raw, nproc):
    """Per-layer metrics per (pass, key), then per key and per workload as
    medians over the traced passes."""
    tr = raw["trace"]
    spans = {s["tag"]: s for s in raw["spans"]}
    jobs = {}
    for j in tr["jobs"]:
        jobs.setdefault(j["tag"], []).append((j["start_ms"], j["end_ms"]))
    batches = {}
    for b in tr["batches"]:
        p, k, _ = b["tag"].split("|")
        batches.setdefault((int(p), k), []).append(b)
    zero = {"jobs": 0, "stages": 0, "tasks": 0, "cpu_ns": 0, "run_ms": 0,
            "dur_ms": 0, "gc_ms": 0, "shuffle_write": 0, "shuffle_read": 0,
            "spill": 0, "peak_mem": 0, "block_bytes": 0}
    rows = {}  # (pass, key) -> metrics
    for p in raw["passes"]:
        if not p["traced"]:
            continue
        for k in (x["key"] for x in p["keys"]):
            tag = lambda ph: f"{p['pass']}|{k}|{ph}"
            c = {ph: tr["counters"].get(tag(ph), zero)
                 for ph in ("build", "plan", "action")}
            dur = {ph: spans[tag(ph)]["dur_s"] if tag(ph) in spans else 0.0
                   for ph in c}
            tot = {f: sum(c[ph][f] for ph in c) for f in zero}
            wall = sum(dur.values())
            bs = batches.get((p["pass"], k), [])
            last = {}
            for b in bs:
                if b["batch"] >= last.get(b["run"], {"batch": -1})["batch"]:
                    last[b["run"]] = b

            def total(field, scale=1e3):
                return sum(b[field] for b in bs) / scale

            m = {
                "operators.build_s": dur["build"],
                "operators.build_jobs": c["build"]["jobs"],
                "plans.plan_s": dur["plan"],
                "action.exec_s": dur["action"],
                "action.jobs": c["action"]["jobs"],
                "exec.task_cpu_s": tot["cpu_ns"] / 1e9,
                "exec.cpu_util": tot["cpu_ns"] / 1e9 / (wall * nproc)
                if wall else 0.0,
                "exec.shuffle_write_mb": tot["shuffle_write"] / MB,
                "exec.shuffle_read_mb": tot["shuffle_read"] / MB,
                "exec.spill_mb": tot["spill"] / MB,
                "exec.peak_exec_mem_mb": max(c[ph]["peak_mem"]
                                             for ph in c) / MB,
                "exec.stages": tot["stages"],
                "exec.tasks": tot["tasks"],
                "exec.task_overhead_s": (tot["dur_ms"] - tot["run_ms"]) / 1e3,
                "exec.task_wait_s": tot["run_ms"] / 1e3 - tot["cpu_ns"] / 1e9,
                "exec.block_store_mb": tot["block_bytes"] / MB,
                "exec.gc_s": tot["gc_ms"] / 1e3,
                "streaming.batches": len(bs),
                "streaming.input_rows": total("input_rows", 1),
                "streaming.add_batch_s": total("add_batch_ms"),
                "streaming.get_batch_s": total("get_batch_ms"),
                "streaming.latest_offset_s": total("latest_offset_ms"),
                "streaming.query_planning_s": total("query_planning_ms"),
                "streaming.wal_commit_s": total("wal_commit_ms"),
                "streaming.commit_offsets_s": total("commit_offsets_ms"),
                "streaming.batch_overhead_s":
                    total("trigger_ms") - total("add_batch_ms"),
                # state size at each query's last micro-batch
                "streaming.state_rows": sum(b["state_rows"]
                                            for b in last.values()),
                "streaming.state_mem_mb": sum(b["state_mem"]
                                              for b in last.values()) / MB,
                "streaming.state_commit_s": total("state_commit_ms"),
            }
            # self time: the part of a phase no Spark job covered
            for ph in c:
                js = [(a / 1e3, b / 1e3) for a, b in jobs.get(tag(ph), [])]
                m[f"self.{ph}_s"] = max(0.0, dur[ph] - interval_union(js))
            m["_wall"] = wall
            m["_counts"] = [tot["jobs"], tot["stages"], tot["tasks"],
                            tot["shuffle_write"], tot["shuffle_read"],
                            len(bs), m["streaming.input_rows"]]
            m["_batch_s"] = [b["trigger_ms"] / 1e3 for b in bs]
            rows[(p["pass"], k)] = m
    return rows


MAX_METRICS = {"exec.peak_exec_mem_mb"}


def summarize_layers(rows, nproc, raw):
    passes = sorted({p for p, _ in rows})
    keys = sorted({k for _, k in rows})
    names = [n for n in next(iter(rows.values())) if not n.startswith("_")]
    per_key = {k: {n: statistics.median(rows[(p, k)][n] for p in passes
                                        if (p, k) in rows) for n in names}
               for k in keys}
    per_pass = []
    for p in passes:
        ms = [rows[(p, k)] for k in keys if (p, k) in rows]
        agg = {n: (max if n in MAX_METRICS else sum)(m[n] for m in ms)
               for n in names}
        wall = sum(m["_wall"] for m in ms)
        agg["exec.cpu_util"] = agg["exec.task_cpu_s"] / (wall * nproc)
        per_pass.append(agg)
    workload = {n: statistics.median(a[n] for a in per_pass) for n in names}
    batch_s = [b for m in rows.values() for b in m["_batch_s"]]
    for name, q in (("streaming.batch_s_p50", 0.5),
                    ("streaming.batch_s_p90", 0.9)):
        v, _, _ = tail_percentile(batch_s, q) if batch_s else (0.0, None, 0)
        workload[name] = v
    setups = raw["setups"]
    workload["setup.session_s"] = statistics.median(s["session_s"] for s in setups)
    workload["setup.warm_s"] = statistics.median(s["warm_s"] for s in setups)
    workload["setup.warm_passes"] = len(setups)
    n = len(raw["passes"])
    workload["jvm.jit_s"] = raw["jit_s"] / n
    workload["jvm.gc_s"] = raw["gc_s"] / n
    workload["codegen.janino_compiles"] = raw["janino_compiles"] / n
    traced = [p["wall_s"] for p in raw["passes"] if p["traced"]]
    untraced = [p["wall_s"] for p in raw["passes"] if not p["traced"]]
    workload["trace.overhead_s"] = (statistics.median(traced)
                                    - statistics.median(untraced))
    # two traced passes of the same code must count the same work
    unstable = sorted({k for k in keys for p in passes[1:]
                       if (p, k) in rows and (passes[0], k) in rows and
                       rows[(p, k)]["_counts"] != rows[(passes[0], k)]["_counts"]})
    workload["trace.count_mismatches"] = len(unstable)
    checks = {
        "traced_pass_s": traced, "untraced_pass_s": untraced,
        "overhead_frac": workload["trace.overhead_s"] / statistics.median(untraced),
        "count_fields": ["jobs", "stages", "tasks", "shuffle_write_bytes",
                         "shuffle_read_bytes", "micro_batches", "input_rows"],
        "counts": {k: rows[(passes[0], k)]["_counts"] for k in keys},
        "unstable_keys": unstable,
    }
    return workload, per_key, checks


# ---- main ----

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--golden", metavar="DIR")
    a = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        fail("run from the root of a checkout of the library (no "
             "src/main/scala/graft/SparkEntry.scala here)")
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "layers.json")) as f:
        layers = json.load(f)["layers"]
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if a.workload not in spec["workloads"]:
        fail(f"unknown workload {a.workload}")
    wl = spec["workloads"][a.workload]
    work = os.path.join(root, ".bench_build")
    os.makedirs(work, exist_ok=True)
    heap = driver_heap()
    nproc = cores()

    build(root, work)
    data = dataset_dir(root, work, spec, wl["dataset"], heap)
    keys = sorted(wl["keys"])

    if a.golden:
        make_golden(work, heap, spec, wl, data, keys, os.path.abspath(a.golden))
        return

    golden_path = os.path.join(work, f"golden-{a.workload}.tsv")
    with open(os.path.join(HERE, "golden.json")) as f:
        golden = json.load(f)[wl["dataset"]]
    with open(golden_path, "w") as f:
        f.writelines(f"{k}\t{golden.get(k, 'missing')}\n" for k in keys)
    orders = [key_order(keys, a.seed, i) for i in range(200)]
    orders_path = os.path.join(work, f"orders-{a.workload}.txt")
    with open(orders_path, "w") as f:
        f.writelines(",".join(o) + "\n" for o in orders)
    out_path = os.path.join(work, f"raw-{a.workload}-{a.seed}-{a.trace}.json")

    load_before = os.getloadavg()
    cpu_before = cpu_times()
    t0 = time.time()
    jvm(work, heap, ["mode=run", f"data={data}", f"orders={orders_path}",
                     f"golden={golden_path}", f"out={out_path}",
                     f"setup={SETUP_CYCLES}", f"seconds={a.seconds}",
                     f"trace={a.trace}", f"cores={nproc}",
                     f"partitions={PARTITIONS_PER_CORE * nproc}"],
        RUN_LIMIT_S, f"run-{a.workload}.log")
    load_after = os.getloadavg()
    with open(out_path) as f:
        raw = json.load(f)

    table_rows = spec["datasets"][wl["dataset"]]["rows"]
    input_rows = sum(table_rows[t] for k in keys for t in wl["keys"][k])
    env = {
        "nproc": nproc, "driver_heap": heap,
        "max_heap_mb": raw["max_heap_mb"],
        "tmpdir_build_sbt": tmpdir_election(), "tmpdir_used": raw["tmpdir"],
        "spark_version": raw["spark_version"], "git_commit": git_commit(root),
        "source_sha256": source_digest(root),
        "loadavg_before": load_before, "loadavg_after": load_after,
        "cpu_steal_frac": steal_frac(cpu_before, cpu_times()),
        "run_wall_s": round(time.time() - t0, 3),
        "layer_map": layers,
    }
    print(json.dumps({"env": env}))
    timed = [p for p in raw["passes"] if not p["traced"]]
    failed = raw["failed"]
    record = {
        "workload": a.workload, "dataset": wl["dataset"], "seed": a.seed,
        "key_orders": [[k["key"] for k in p["keys"]] for p in raw["passes"]],
        "input_rows_per_pass": input_rows,
        "digest_mismatches": raw["mismatched"], "errors": raw["errors"],
        "digests": raw["digests"],
        "jvm_per_timed_pass": {
            "jit_s": raw["jit_s"] / len(raw["passes"]),
            "gc_s": raw["gc_s"] / len(raw["passes"]),
            "janino_compiles": raw["janino_compiles"] / len(raw["passes"])},
    }
    if a.trace == 0:
        detail = e2e_metrics(raw, input_rows)
        record["end_to_end"] = detail
        record["key_s"] = {k: [x["s"] for p in timed for x in p["keys"]
                               if x["key"] == k] for k in keys}
        metrics = {m["name"]: {"value": detail[m["name"]]["value"],
                               "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    else:
        record["fail_frac"] = failed / raw["attempted"]
        rows = layer_metrics(raw, nproc)
        workload, per_key, checks = summarize_layers(rows, nproc, raw)
        record["per_layer"] = workload
        record["per_key"] = per_key
        record["trace_checks"] = checks
        trace_path = os.path.join(work, f"trace-{a.workload}-{a.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"spans": raw["spans"], "jobs": raw["trace"]["jobs"],
                       "batches": raw["trace"]["batches"],
                       "counters": raw["trace"]["counters"]}, f)
        record["trace_file"] = os.path.relpath(trace_path, root)
        metrics = {m["name"]: {"value": workload[m["name"]], "unit": m["unit"]}
                   for m in bench["per_layer"]}
    print(json.dumps(record))
    print(json.dumps({"correct": failed == 0, "attempted": raw["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
