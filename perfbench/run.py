#!/usr/bin/env python3
"""Benchmark of the graft engine's paper query and dedup write path.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload related_terms|dedup_lifecycle|all \
        --seed N --seconds S --trace 0|1

(`all` runs every workload in turn, each as its own run.)

1. Builds the library from `src/main/scala` together with the harness in
   `perfbench/harness` (sbt, offline), once per source tree.
2. Generates the workload's inputs from the seed, once per (workload,
   seed, parameters), outside any timed region.
3. Runs the closed-loop harness (one client thread, `local[nproc]`) in a
   fresh JVM: repeated set-ups, then whole rounds of the workload for
   `--seconds`. With `--trace 1` every other round runs under a Spark
   listener with a job group per layer call.
4. Checks every output against an independent DuckDB oracle; a wrong
   answer counts as a failed operation.
5. Prints every metric by name, unit and sample count, writes a JSON
   artifact with the recorded environment, and ends with one JSON line:
   `{"correct", "attempted", "failed", "metrics"}` — the end-to-end
   metrics with `--trace 0`, the per-layer metrics with `--trace 1`.

Everything the run writes goes under `$CARGO_TARGET_DIR` (default
`.bench_build`) inside the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

START = time.monotonic()
RUN_LIMIT_S = 175       # a run must end within 180 s ...
BUILD_LIMIT_S = 880     # ... or 900 s when it has to build first
SETUPS = 3              # set-ups per run; setup_s is their median
MIB = float(1 << 20)

WORKLOADS = {
    "related_terms": dict(
        n_docs=6000, vocab=50_000, exponent=1.1, min_len=10, max_len=100,
        n_head=12, n_tail=12, head_share=0.01, tail_band=[3, 5], warm_docs=1500,
        warm_queries=6),
    "dedup_lifecycle": dict(
        n_orig=900, vocab=50_000, exponent=1.1, min_len=10, max_len=100,
        dup_share=0.25, edit_rate=0.05, bulk_batches=2, micro=[50] * 3,
        deletes_after_batch=[2, 4], delete_size=10, warm=[200, 30], warm_delete=2),
}

# end-to-end metrics and their units (BENCHMARK.json declares the same)
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "build_s": "s",
    "call_p50_ms": "ms",
    "store_mb": "MiB",
}
# per-layer roles: the call spans each role covers on each workload
ROLES = {
    "related_terms": {"build": ["tfidf.TfIdf.tfidf:index"],
                      "call": ["sim.Semantic.relatedTermsFrom:head",
                               "sim.Semantic.relatedTermsFrom:tail"]},
    "dedup_lifecycle": {"build": ["ops.Dedup.clustersIngestBatch:bulk"],
                        "call": ["ops.Dedup.clustersIngestBatch:micro"]},
}
ROLE_COUNTERS = ["calls", "wall_s", "jobs", "stages", "tasks", "task_s", "driver_share",
                 "shuffle_write_mb", "spill_mb", "input_rows", "output_mb"]
SETUP_COUNTERS = ["wall_s", "jobs", "tasks", "task_s", "driver_share"]

# Spark's driver code is large enough that, at the JIT's default
# thresholds, C2 is still compiling about one core's worth through the
# timed round, and where it stands decides the round's speed (round
# times ranged ±15% over ten seeds). Compiling at a quarter of the
# default invocation counts front-loads that work into set-up and
# halves the run-to-run spread (README, "Warm-up").
JVM_FLAGS = ["-XX:CompileThresholdScaling=0.25"]

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def remaining(limit):
    return limit - (time.monotonic() - START)


# ---------------------------------------------------------------- build

def source_files(root):
    out = []
    for base in ("src/main/scala", "perfbench/harness"):
        for dirpath, dirnames, files in os.walk(os.path.join(root, base)):
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", "project"))
            out += [os.path.join(dirpath, f) for f in sorted(files)
                    if f.endswith((".scala", ".sbt"))]
    out.append(os.path.join(root, "perfbench/harness/project/build.properties"))
    return out


def tree_id(root):
    md = hashlib.sha1()
    for p in source_files(root):
        md.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            md.update(f.read())
    return md.hexdigest()[:16]


def build(root, work, tree):
    """Compile once per source tree; returns the runtime classpath."""
    cp_file = os.path.join(work, "build", f"{tree}.classpath")
    if os.path.exists(cp_file):
        cp = open(cp_file).read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp, False
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    # offline: dependencies resolve only from the toolchain's caches
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([os.environ.get("SBT_OPTS", "-Dsbt.offline=true"),
                                "-Dsbt.server.autostart=false"])
    log = os.path.join(work, "build", f"{tree}.log")
    with open(log, "w") as lf:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime / fullClasspath"],
            cwd=os.path.join(root, "perfbench", "harness"), env=env, stdout=subprocess.PIPE,
            stderr=lf, text=True, timeout=max(60, remaining(BUILD_LIMIT_S) - 240))
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(r.stdout[-3000:])
        fail(f"build failed (exit {r.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    return cp, True


# ---------------------------------------------------------------- inputs

def make_inputs(workload, seed, work):
    params = WORKLOADS[workload]
    spec = json.dumps([workload, seed, params], sort_keys=True)
    key = hashlib.md5(spec.encode()).hexdigest()[:12]
    d = os.path.join(work, "inputs", f"{workload}-s{seed}-{key}")
    if os.path.exists(os.path.join(d, "meta.json")):
        return d, json.load(open(os.path.join(d, "meta.json")))
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = {"workload": workload, "seed": seed, "params": params}
    if workload == "related_terms":
        meta.update(_related_inputs(seed, params, tmp))
    else:
        meta.update(_dedup_inputs(seed, params, tmp))
    meta["fingerprint"] = gen.fingerprint(tmp)
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d, meta


def _related_inputs(seed, p, d):
    docs, _, _ = gen.zipf_docs(seed, p["n_docs"], p["vocab"], p["exponent"],
                               p["min_len"], p["max_len"])
    gen.write_corpus_text(os.path.join(d, "corpus.txt"), docs)
    gen.write_corpus_text(os.path.join(d, "warm.txt"), docs[:p["warm_docs"]])
    warm_df = gen.document_frequency(docs[:p["warm_docs"]])
    with open(os.path.join(d, "warm_queries.txt"), "w") as f:
        for t in sorted(warm_df, key=lambda t: (-warm_df[t], t))[:p["warm_queries"]]:
            f.write(t + "\n")
    qs = gen.sample_query_terms(seed + 1, docs, p["n_head"], p["n_tail"],
                                p["head_share"], tuple(p["tail_band"]))
    with open(os.path.join(d, "queries.tsv"), "w") as f:
        for t, kind, _ in qs:
            f.write(f"{t}\t{kind}\n")
    return {"sizes": {"docs": len(docs), "tokens": sum(map(len, docs)),
                      "distinct_terms": len(gen.document_frequency(docs)),
                      "queries": len(qs)},
            "query_df": {t: df for t, _, df in qs}}


def _dedup_inputs(seed, p, d):
    docs, names, probs = gen.zipf_docs(seed, p["n_orig"], p["vocab"], p["exponent"],
                                       p["min_len"], p["max_len"])
    docs, pairs = gen.inject_near_dups(seed + 1, docs, p["dup_share"], p["edit_rate"],
                                       names, probs)
    # the bulk batches split whatever the micro-batches leave
    rest = len(docs) - sum(p["micro"])
    nb = p["bulk_batches"]
    sizes = [rest // nb + (1 if i < rest % nb else 0) for i in range(nb)] + p["micro"]
    copies = [c for c, _ in pairs]
    steps, n_live = gen.write_lifecycle(seed + 2, d, docs, copies, sizes, nb,
                                        p["deletes_after_batch"], p["delete_size"])
    # warm-up: one call of each type on a small slice, micro-batch included
    gen.write_lifecycle(seed + 3, os.path.join(d, "warm"), docs[:sum(p["warm"])], copies,
                        p["warm"], 1, [len(p["warm"]) - 1], p["warm_delete"])
    return {"sizes": {"docs": len(docs), "injected_dups": len(pairs),
                      "tokens": sum(map(len, docs)), "steps": len(steps),
                      "surviving_docs": n_live}}


# ---------------------------------------------------------------- run

def heap():
    """Driver heap from MemTotal: half of it, clamped to [2, 8] GiB."""
    try:
        kb = next(int(ln.split()[1]) for ln in open("/proc/meminfo")
                  if ln.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def run_harness(cp, workload, inputs, work, seconds, trace, cores, limit):
    rdir = os.path.join(work, "run")
    shutil.rmtree(rdir, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(rdir, sub))
    out = os.path.join(rdir, "result.json")
    cmd = ["java", f"-Xmx{heap()}", f"-Djava.io.tmpdir={rdir}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    cmd += JVM_FLAGS
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness", "--workload", workload, "--inputs", inputs,
            "--work", rdir, "--out", out, "--seconds", str(seconds), "--trace", str(trace),
            "--cores", str(cores), "--setups", str(SETUPS)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{rdir}/spark-local")
    log = os.path.join(work, f"harness-{workload}.log")
    with open(log, "w") as lf:
        try:
            r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env,
                               timeout=max(10, limit))
        except subprocess.TimeoutExpired:
            fail(f"harness exceeded the run time limit; see {log}", 3)
    if r.returncode != 0 or not os.path.exists(out):
        fail(f"harness exited {r.returncode}; see {log}", 3)
    with open(out) as f:
        return json.load(f)


def oracle_for(workload, inputs, meta, result):
    """The workload's oracle, computed once per input fingerprint."""
    if workload == "related_terms":
        path = os.path.join(inputs, "oracle.json")
        if not os.path.exists(path):
            top, useful = oracle.related_terms(os.path.join(inputs, "corpus.txt"),
                                               list(meta["query_df"]))
            with open(path, "w") as f:
                json.dump({"top": top, "useful_rows": useful}, f)
        return json.load(open(path))
    sql = next((r["extra"]["oracle_sql"] for r in result["rounds"]), None)
    tag = hashlib.md5(sql.encode()).hexdigest()[:12]
    path = os.path.join(inputs, f"oracle-{tag}.json")
    if not os.path.exists(path):
        rows = oracle.dedup_clusters(os.path.join(inputs, "survivors.parquet"), sql)
        with open(path, "w") as f:
            json.dump(rows, f)
    return [tuple(r) for r in json.load(open(path))]


def check(workload, result, orc):
    """Mark every call ok / wrong / error; returns (attempted, failed, notes)."""
    attempted = failed = 0
    notes = []
    for ri, r in enumerate(result["rounds"]):
        for c in r["calls"]:
            attempted += 1
            bad = c["error"]
            if not bad and workload == "related_terms" and c["span"].startswith("sim."):
                q = c["out"]["query"]
                want = orc["top"][q]
                got = [[t, s] for t, s in c["out"]["top"]]
                if got != want:
                    bad = f"top-5 of {q}: got {got} want {want}"
            if not bad and c["label"] == "maintain" and c["out"]["dup_recall"] != 1.0:
                bad = f"dup_recall {c['out']['dup_recall']}"
            if not bad and c["label"] == "serve":
                got = sorted(tuple(x) for x in c["out"])
                if got != orc:
                    bad = (f"assignment differs from the from-scratch clustering "
                           f"({len(got)} vs {len(orc)} rows)")
            c["ok"] = not bad
            if bad:
                failed += 1
                notes.append(f"round {ri} {c['span']}: {bad}")
        if workload == "related_terms":
            missing = len(orc["top"]) - sum(c["span"].startswith("sim.") for c in r["calls"])
            if missing:
                attempted += missing
                failed += missing
                notes.append(f"round {ri}: {missing} queries never ran")
    if workload == "related_terms":
        attempted += 1
        want = [["gene_tp53_gene", round(0.7096661947545744, 9)],
                ["gene_kras_gene", round(0.34299717028501764, 9)]]
        if result["golden"] != want:
            failed += 1
            notes.append(f"golden fixture: got {result['golden']} want {want}")
    return attempted, failed, notes


COST_KEYS = ("s", "steal", "cpu_s", "jit_s", "gc_s")


def busy_s(cost):
    """Seconds an interval would have taken had the hypervisor not taken
    CPU time from the guest: its wall seconds times the share of busy
    guest CPU time that was not stolen (see README)."""
    return cost["s"] * (1.0 - cost["steal"])


def counters_for(result, spans, cores):
    """Per-layer counters summed over the job groups in `spans`."""
    groups = result["counters"]
    walls = [s["end"] - s["start"] for s in result["spans"] if s["name"] in spans]
    tot = {k: sum(groups.get(g, {}).get(k, 0) for g in spans)
           for k in ("jobs", "stages", "tasks", "task_ms", "shuffle_write_bytes",
                     "spill_bytes", "input_rows", "output_bytes")}
    wall = sum(walls)
    task_s = tot["task_ms"] / 1000.0
    return {"calls": len(walls), "wall_s": wall, "jobs": tot["jobs"],
            "stages": tot["stages"], "tasks": tot["tasks"], "task_s": task_s,
            "driver_share": (1.0 - task_s / (wall * cores)) if wall > 0 else 0.0,
            "shuffle_write_mb": tot["shuffle_write_bytes"] / MIB,
            "spill_mb": tot["spill_bytes"] / MIB, "input_rows": tot["input_rows"],
            "output_mb": tot["output_bytes"] / MIB}


def summarize(workload, result, orc, cores):
    """(end-to-end metrics, detail metrics, per-layer metrics, span table)."""
    untraced = [r for r in result["rounds"] if not r["traced"]]
    traced = [r for r in result["rounds"] if r["traced"]]
    calls = [c for r in untraced for c in r["calls"]]

    def ms(label=None, span=None):
        return [busy_s(c) * 1000.0 for c in calls
                if (label is None or c["label"] == label)
                and (span is None or c["span"] == span)]

    e2e, detail = stats.Metrics(), stats.Metrics()

    def end_to_end(name, stat):
        e2e.add_stat(name, stat, END_TO_END[name])

    end_to_end("setup_s", stats.median([busy_s(x) for x in result["setups"]]))
    end_to_end("wall_s", stats.median([busy_s(r) for r in untraced]))
    detail.add_stat("wall_raw_s", stats.median([r["s"] for r in untraced]), "s")
    detail.add_stat("host.steal_share", stats.median([r["steal"] for r in untraced]), "share")
    if workload == "related_terms":
        builds = [busy_s(c) for c in calls if c["label"] == "index"]
        q = ms(span="sim.Semantic.relatedTermsFrom")
        end_to_end("build_s", stats.median(builds))
        end_to_end("call_p50_ms", stats.median(q))
        end_to_end("store_mb", stats.median([r["extra"]["index_bytes"] / MIB for r in untraced]))
        detail.add_stat("index_build_s", stats.median(builds), "s")
        detail.add_stat("index_mb", stats.median([r["extra"]["index_bytes"] / MIB
                                                  for r in untraced]), "MiB")
        detail.add_stat("query_p50_ms", stats.median(q), "ms")
        tq = stats.tail_quantile(len(q))
        if tq:
            detail.add_stat(f"query_p{round(tq * 100)}_ms", stats.percentile(q, tq), "ms")
        detail.add_stat("query_head_p50_ms", stats.median(ms("head")), "ms")
        detail.add_stat("query_tail_p50_ms", stats.median(ms("tail")), "ms")
        detail.add("tfidf.rows", result["rounds"][0]["extra"]["tfidf_rows"], "count")
    else:
        def per_round(label):
            return [sum(busy_s(c) for c in r["calls"] if c["label"] == label) for r in untraced]
        end_to_end("build_s", stats.median(per_round("bulk")))
        end_to_end("call_p50_ms", stats.median(ms("micro")))
        end_to_end("store_mb", stats.median([r["extra"]["state_bytes"] / MIB for r in untraced]))
        detail.add_stat("ingest_p50_s", stats.median([x / 1000 for x in ms("micro")]), "s")
        detail.add_stat("delete_p50_s", stats.median([x / 1000 for x in ms("delete")]), "s")
        detail.add_stat("maintain_s", stats.median(per_round("maintain")), "s")
        detail.add_stat("state_mb", stats.median([r["extra"]["state_bytes"] / MIB
                                                  for r in untraced]), "MiB")
        detail.add("ops.Dedup.state_files", result["rounds"][-1]["extra"]["state_files"], "count")

    layer, table = stats.Metrics(), {}
    if traced:
        sc = result["setup_counters"]
        setup_wall = sum(s["end"] - s["start"] for s in result["setup_spans"]
                         if s["name"] == "setup.session")
        setup = counters_for(dict(result, counters=sc, spans=result["setup_spans"]),
                             ["setup.session"], cores)
        setup["wall_s"] = setup_wall
        for k in SETUP_COUNTERS:
            layer.add(f"setup.session.{k}", setup[k], _unit(k))
        for role, spans in ROLES[workload].items():
            c = counters_for(result, spans, cores)
            for k in ROLE_COUNTERS:
                layer.add(f"{role}.{k}", c[k], _unit(k))
        groups = result["counters"]
        jobs_all = sum(g["jobs"] for g in groups.values())
        untagged = groups.get("(untagged)", {}).get("jobs", 0)
        layer.add("trace.untagged_share", untagged / jobs_all if jobs_all else 0.0, "share")
        overhead = (stats.median([busy_s(r) for r in traced])[0]
                    - stats.median([busy_s(r) for r in untraced])[0])
        layer.add("trace.overhead_s", overhead, "s", len(traced) + len(untraced))
        for k in ("cpu_s", "jit_s", "gc_s"):
            layer.add(f"jvm.{k}", traced[0][k], "s")
        # module-named spans for the artifact: <layer>.<Object>.<function>
        for name in sorted({s["name"].split(":")[0] for s in result["spans"]}):
            members = sorted({s["name"] for s in result["spans"]
                              if s["name"].split(":")[0] == name})
            table[name] = counters_for(result, members, cores)
        table["setup.session"] = setup
        if workload == "related_terms":
            sims = [c for c in traced[0]["calls"] if c["span"].startswith("sim.") and c["out"]]
            read = sum(c["out"]["rows_read"] for c in sims)
            useful = sum(orc["useful_rows"][c["out"]["query"]] for c in sims)
            detail.add("sim.useful_ratio", useful / read if read else 0.0, "share", len(sims))
    return e2e, detail, layer, table


def _unit(counter):
    return {"calls": "count", "jobs": "count", "stages": "count", "tasks": "count",
            "input_rows": "count", "driver_share": "share"}.get(
        counter, "MiB" if counter.endswith("_mb") else "s")


def environment(root, tree, cores, result, meta):
    git_tree = None
    if os.path.isdir(os.path.join(root, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD^{tree}"], cwd=root,
                           capture_output=True, text=True)
        git_tree = r.stdout.strip() or None
    return {"nproc": cores, "driver_heap": heap(), "spark_version": result["spark_version"],
            "java": _java_version(), "jvm_flags": JVM_FLAGS,
            "source_tree": tree, "git_tree": git_tree,
            "session_conf": result["session_conf"], "input_fingerprint": meta["fingerprint"],
            "input_sizes": meta["sizes"], "params": meta["params"]}


def _java_version():
    r = subprocess.run(["java", "-version"], capture_output=True, text=True)
    return (r.stderr.splitlines() or ["?"])[0]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated run still stops and waits for the JVM or sbt it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if args.workload == "all":
        codes = [subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", w,
                                 "--seed", str(args.seed), "--seconds", str(args.seconds),
                                 "--trace", str(args.trace)]).returncode
                 for w in WORKLOADS]
        sys.exit(max(codes))

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("no library sources at src/main/scala/graft: run from the root of a checkout")
    work = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    work = os.path.join(os.path.abspath(os.path.join(root, work)), "perfbench")
    os.makedirs(work, exist_ok=True)
    cores = len(os.sched_getaffinity(0))

    phases, t = {}, time.monotonic()

    def phase(name):
        nonlocal t
        now = time.monotonic()
        phases[name] = now - t
        t = now

    tree = tree_id(root)
    cp, built = build(root, work, tree)
    phase("build_s")
    inputs, meta = make_inputs(args.workload, args.seed, work)
    phase("inputs_s")
    limit = remaining(BUILD_LIMIT_S if built else RUN_LIMIT_S) - 15
    result = run_harness(cp, args.workload, inputs, work, args.seconds, args.trace, cores, limit)
    phase("harness_s")
    orc = oracle_for(args.workload, inputs, meta, result)
    phase("oracle_s")
    attempted, failed, notes = check(args.workload, result, orc)
    e2e, detail, layer, table = summarize(args.workload, result, orc, cores)
    detail.add("failed_frac", stats.failed_frac(attempted, failed), "share", attempted)

    print(f"workload {args.workload} seed {args.seed} inputs {meta['fingerprint']} "
          f"tree {tree} rounds {len(result['rounds'])}")
    for m in (e2e, detail, layer):
        for line in m.lines():
            print(line)
    for n in notes[:20]:
        print(f"FAILED {n}")

    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "environment": environment(root, tree, cores, result, meta),
        "phases": phases,
        "attempted": attempted, "failed": failed, "failures": notes,
        "end_to_end": e2e.rows, "detail": detail.rows, "per_layer": layer.rows,
        "spans_by_layer": table, "setups": result["setups"],
        "rounds": [dict({k: r[k] for k in COST_KEYS}, traced=r["traced"],
                        calls=[dict({k: c[k] for k in COST_KEYS}, span=c["span"],
                                    label=c["label"], ok=c.get("ok"))
                               for c in r["calls"]])
                   for r in result["rounds"]],
        "spans": result["setup_spans"] + result["spans"],
        "job_groups": result["counters"],
    }
    art_dir = os.path.join(work, "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    art = os.path.join(art_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(art, "w") as f:
        json.dump(artifact, f, indent=1)
    print(f"artifact {os.path.relpath(art, root)}")

    chosen = layer if args.trace else e2e
    metrics = {k: {"value": r["value"], "unit": r["unit"]} for k, r in chosen.rows.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
