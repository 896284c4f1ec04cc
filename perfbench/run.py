#!/usr/bin/env python3
"""The repository benchmark: build the engine from source, generate seeded
inputs, drive one workload from one JVM, check its outputs and print one
JSON result line.

    python3 perfbench/run.py --workload reservoir --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` is a separate run with the call-site listener on and
prints the per-layer metrics, writing the span trees under
``.bench_build/traces/``. See perfbench/README.md for the workloads, the
metrics and the layer each one measures.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import marcgen  # noqa: E402
import tablegen  # noqa: E402

BUILD = ".bench_build"
WORKLOADS = ["reservoir", "corpus"]
JVM_TIMEOUT_S = 165
# the JVM that records the class archive runs without one and writes it at
# exit; it runs in the first run in a checkout
RECORD_TIMEOUT_S = 600
RECORD_SEED = 0
# layers that submit Spark jobs (graft packages); "graft" is the root
# package (Tables, SparkEntry), "bench" a job no graft frame or scope named.
# sources, dedup, similarity and text build plans but run no action of their
# own: their work runs inside the jobs of the layer that calls them.
JOB_LAYERS = ["api", "cluster", "storage", "operators", "curation", "graft", "bench"]
JOB_METRICS = [("jobs", "count"), ("busy_s", "s"), ("task_cpu_s", "s"),
               ("shuffle_bytes", "B"), ("spill_bytes", "B"),
               ("input_bytes", "B"), ("output_bytes", "B"),
               ("tasks_failed", "count")]
DIRECT = [("marc.decode_records_per_s", "marc.decode"),
          ("functions.goldrush_keys_per_s", "functions.goldrush"),
          ("functions.jsonpath_keys_per_s", "functions.jsonpath"),
          ("marc.xml_render_records_per_s", "marc.xml_render")]
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """$SPARK_HOME/jars, or the jars bundled with the pyspark package."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        spec = importlib.util.find_spec("pyspark")
        home = spec and spec.submodule_search_locations[0]
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        sys.exit(f"[perfbench] no Spark jars under {jars!r}; set SPARK_HOME")
    return jars


def build(jars):
    """Compile src/main/scala and perfbench/src with the Scala compiler that
    ships with Spark into a content-addressed jar (a jar, not a class
    directory, so the JVM can archive its classes; see ``run_jvm``)."""
    main = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not main:
        sys.exit("[perfbench] no src/main/scala here: run from the repository root")
    sources = main + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    digest = hashlib.sha256()
    for path in sources:
        digest.update(path.encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    out = os.path.join(BUILD, "app-" + digest.hexdigest()[:16] + ".jar")
    if os.path.exists(out):
        return out
    # jars and class archives of other sources are never used again
    for old in glob.glob(os.path.join(BUILD, "app-*")):
        if os.path.isfile(old):
            os.remove(old)
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    log(f"compiling {len(sources)} Scala files")
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
                        "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp]
                       + sources, capture_output=True, text=True, timeout=900)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        sys.exit("[perfbench] build failed")
    with zipfile.ZipFile(f"{tmp}.jar", "w") as z:
        for root, _, files in sorted(os.walk(tmp)):
            for name in sorted(files):
                path = os.path.join(root, name)
                z.write(path, os.path.relpath(path, tmp))
    shutil.rmtree(tmp)
    os.rename(f"{tmp}.jar", out)
    log(f"compiled in {time.time() - t0:.1f} s")
    return out


def jvm_cmd(app_jar, jars, cds, work, args):
    """The java command that runs PerfBench with ``args``: one or more
    groups of workload, manifest, seconds, trace and output path."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
            + ["-Xmx3g", "-Xss8m", cds, "-Xlog:cds=off,cds+dynamic=off",
               f"-Djava.io.tmpdir={tmp}",
               "-cp", app_jar + os.pathsep + os.path.join(jars, "*"),
               "perfbench.PerfBench"] + [str(x) for x in args])


def wait_jvm(cmd, log_path, timeout):
    """Run ``cmd`` to its end; returns its exit code or "timeout"."""
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return "timeout"
        finally:  # also on SIGTERM: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def fail_with_log(log_path, msg):
    with open(log_path, errors="replace") as f:
        sys.stderr.write(f.read()[-6000:])
    sys.exit(f"[perfbench] {msg}")


def class_archive(app_jar, jars):
    """The class-data-sharing archive every measured run maps: the ~15,000
    Spark and Scala classes a run loads, already parsed and verified, which
    takes about ten seconds off every set-up. It is recorded once per jar,
    before the first measured run, by an unmeasured JVM that runs the set-up
    of each workload (no timed round) with the listener on; so every
    measured run, the first one in a checkout included, maps the same
    archive whichever workload runs first. Classes only the timed ops use
    load the ordinary way, in every run alike."""
    archive = app_jar[:-len(".jar")] + ".jsa"
    if os.path.exists(archive):
        return archive
    work = os.path.abspath(os.path.join(BUILD, "runs", f"record-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    dump = f"{archive}.tmp{os.getpid()}"
    try:
        log("recording the class archive (each workload's set-up, unmeasured)")
        t0 = time.time()
        args = []
        for workload in WORKLOADS:
            sub = os.path.join(work, workload)
            manifest, _ = make_inputs(workload, RECORD_SEED, sub)
            args += [workload, manifest, 0, 1, os.path.join(sub, "result.json")]
        log_path = os.path.join(work, "jvm.log")
        rc = wait_jvm(jvm_cmd(app_jar, jars, f"-XX:ArchiveClassesAtExit={dump}", work, args),
                      log_path, RECORD_TIMEOUT_S)
        if rc != 0 or not os.path.exists(dump):
            fail_with_log(log_path, f"recording the class archive failed ({rc})")
        os.replace(dump, archive)
        # write the archive out now, not during the measured runs that follow
        os.sync()
        log(f"class archive recorded in {time.time() - t0:.1f} s")
    finally:
        if os.path.exists(dump):
            os.remove(dump)
        shutil.rmtree(work, ignore_errors=True)
    return archive


def run_jvm(app_jar, jars, archive, workload, manifest_path, seconds, trace, out_path, work):
    """Run PerfBench for one workload in its own JVM, mapping the class
    archive; returns what it wrote to ``out_path``."""
    log_path = os.path.join(work, "jvm.log")
    rc = wait_jvm(jvm_cmd(app_jar, jars, f"-XX:SharedArchiveFile={archive}", work,
                          (workload, manifest_path, seconds, trace, out_path)),
                  log_path, JVM_TIMEOUT_S)
    if rc != 0 or not os.path.exists(out_path):
        fail_with_log(log_path, f"JVM run failed ({rc})")
    with open(out_path) as f:
        return json.load(f)


def make_inputs(workload, seed, work):
    """Generate one workload's inputs from ``seed`` under ``work``; returns
    the manifest path and the generator state the checks need."""
    inputs = os.path.join(work, "inputs")
    if workload == "reservoir":
        state = marcgen.Generator(seed)
        manifest = marcgen.write_inputs(state, inputs)
    else:
        manifest, state = tablegen.write_inputs(seed, inputs)
    manifest["work_dir"] = work
    path = os.path.join(work, "manifest.json")
    with open(path, "w") as f:
        json.dump(manifest, f)
    return path, (manifest, state)


# ---------------------------------------------------------------- checks

def check_reservoir(gen, res):
    """Mark each op ok or failed against the generator's ground truth. The
    last page of each export carries the members of every live cluster of
    its pool, so each export checks that pool's whole membership."""
    states = {}

    def state(k):
        if k not in states:
            states[k] = gen.state(k)
        return states[k]

    for op in res["ops"]:
        if not op["ok"]:
            continue
        obs = op["obs"]
        if op["kind"] == "ingest":
            s = gen.batch_stats[obs["batch"]]
            want = {"processed": s["new"] + s["update"] + s["bridge"] + s["delete"],
                    "inserted": s["new"] + s["update"] + s["bridge"],
                    "updated": 0, "deleted": s["deleted_versions"], "ignored": 0}
            op["ok"] = obs["stats"] == want
        elif op["kind"] == "lookup":
            st = state(obs["after_batch"])
            q = obs["query"]
            want = gen.expected_lookup(st, q)
            got = sorted(d["members"] for d in obs["docs"])
            op["ok"] = got == want and (q["kind"] != "clusterId" or len(got) == 1)
        elif op["kind"] == "oai_page" and "export" in obs:
            e = obs["export"]
            docs = state(e["after_batch"])["pools"][e["pool"]]["docs"].values()
            op["ok"] = (e["ended"] and e["distinct"] == e["items"]
                        and sorted(e["members"]) == sorted(sorted(d) for d in docs))


def oracle_compare(tables_dir, out_dir, oracles):
    """Row count and order-insensitive row hash of each query's Spark output
    against its DuckDB oracle on the same generated tables."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute("SET TimeZone='UTC'")
    for p in glob.glob(os.path.join(tables_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

    def digest(df):
        df = df.reset_index(drop=True)
        for c in df.columns:
            if str(df[c].dtype).startswith("datetime64"):
                df[c] = df[c].dt.tz_localize(None) if df[c].dt.tz else df[c]
                df[c] = df[c].astype("datetime64[us]").astype("int64")
        return len(df), int(pd.util.hash_pandas_object(df, index=False).astype("uint64").sum())

    ok = {}
    for name in sorted(oracles):
        qdir = os.path.join(out_dir, name)
        try:
            got = con.execute(f"SELECT * FROM '{qdir}/*.parquet'").df()
            want = con.execute(oracles[name]).df()
            ok[name] = (list(got.columns) == list(want.columns)
                        and digest(got) == digest(want))
        except Exception as e:  # a missing output or a failing oracle fails the op
            log(f"oracle compare {name}: {e}")
            ok[name] = False
        if not ok[name]:
            log(f"{name}: output differs from its DuckDB oracle")
    return ok


def check_corpus(expect, manifest, res):
    """Mark each op ok or failed: batch outcomes by class against the stored
    ids, diff classes against row counts, queries against their oracles."""
    stored = {r["id"] for r in res["stored"]}
    oracle_ok = oracle_compare(manifest["tables_dir"], res["query_out"], res["oracles"])
    for op in res["ops"]:
        if not op["ok"]:
            continue
        obs = op["obs"]
        if op["kind"] == "corpus_batch":
            want = expect["rounds"][op["round"]]["classes"][obs["class"]]
            op["ok"] = (all(i in stored for i in want["kept"])
                        and not any(i in stored for i in want["dropped"]))
        elif op["kind"] == "diff":
            total = {k: sum(r[k] for r in obs["classes"])
                     for k in ("added", "removed", "changed", "same")}
            hot = {i for e in expect["rounds"][:op["round"] + 1]
                   for i in e["classes"]["hot"]["kept"]}
            v2_rows = expect["rounds"][op["round"]]["rows"]
            op["ok"] = (total["removed"] + total["changed"] + total["same"] == expect["setup_rows"]
                        and total["added"] + total["changed"] + total["same"] == v2_rows
                        and (op["round"] < res["rounds"] - 1 or v2_rows == len(res["stored"]))
                        and total["changed"] == len(hot))
        elif op["kind"] == "query":
            op["ok"] = oracle_ok.get(obs["name"], False)


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def union_s(intervals):
    """Seconds covered by the union of [start_ms, end_ms] intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


def end_to_end(workload, res, input_bytes):
    ops = res["ops"]
    by = lambda k: [o for o in ops if o["kind"] == k]  # noqa: E731
    if workload == "reservoir":
        writes, reads, bulk_ops = by("ingest"), by("lookup"), by("oai_page")
    else:
        writes, reads, bulk_ops = by("corpus_batch"), by("diff"), by("query")
    per_round = {}  # one bulk read per round: every export page, or every query pass
    for o in bulk_ops:
        per_round[o["round"]] = per_round.get(o["round"], 0.0) + o["wall_s"]
    w_wall = sum(o["wall_s"] for o in writes)
    # a round's mean batch: the corpus rotation's three classes differ in
    # cost, and the median of three would jump between them
    batches = {}
    for o in writes:
        batches.setdefault(o["round"], []).append(o["wall_s"])
    return {
        "setup_s": (res["setup_s"], "s"),
        "write_batch_s": (median([statistics.mean(v) for v in batches.values()]), "s"),
        "write_items_per_s": (sum(o["items"] for o in writes) / w_wall if w_wall else 0.0, "1/s"),
        "read_p50_s": (median([o["wall_s"] for o in reads]), "s"),
        "bulk_read_s": (median(list(per_round.values())), "s"),
        "store_bytes_per_input_byte": (res["store_bytes"] / input_bytes, "ratio"),
    }


def per_layer(workload, res, manifest, extra, spans_path):
    ops = res["ops"]
    jobs = res.get("jobs", [])
    for o in ops:
        o["jobs"] = [j for j in jobs if o["start_ms"] <= j["start_ms"] <= o["end_ms"]]
    n_ops = max(1, len(ops))
    m = {}
    for layer in JOB_LAYERS:
        mine = [(o, [j for j in o["jobs"] if j["layer"] == layer]) for o in ops]
        flat = [j for _, js in mine for j in js]
        for name, unit in JOB_METRICS:
            if name == "jobs":
                v = len(flat) / n_ops
            elif name == "busy_s":
                v = sum(union_s([(j["start_ms"], j["end_ms"]) for j in js]) for _, js in mine) / n_ops
            elif name == "task_cpu_s":
                v = sum(j["cpu_s"] for j in flat) / n_ops
            elif name == "tasks_failed":
                v = sum(j["tasks_failed"] for j in flat)
            else:
                v = sum(j[name] for j in flat) / n_ops
            m[f"{layer}.{name}"] = (v, unit)
    self_s = [o["wall_s"] - union_s([(j["start_ms"], j["end_ms"]) for j in o["jobs"]]) for o in ops]
    m["driver.self_s"] = (sum(self_s) / n_ops, "s")
    m["sched.wait_s"] = (sum(j["sched_wait_s"] for o in ops for j in o["jobs"]) / n_ops, "s")
    direct = {d["name"]: d for d in res.get("direct", [])}
    for metric, name in DIRECT:
        d = direct.get(name)
        m[metric] = (d["items"] / d["seconds"] if d else 0.0, "1/s")
    d = direct.get("cql.parse")
    m["cql.parse_ms"] = (1000.0 * d["seconds"] / d["items"] if d else 0.0, "ms")
    write_kinds = {"ingest", "corpus_batch"}
    read_ops = [o for o in ops if o["kind"] in ("lookup", "diff")]
    writes = [o for o in ops if o["kind"] in write_kinds]
    in_bytes = write_input_bytes(workload, manifest, res)
    m["storage.write_amp"] = (sum(j["output_bytes"] for o in writes for j in o["jobs"]) / in_bytes
                              if in_bytes else 0.0, "ratio")
    m["storage.read_bytes_per_lookup"] = (
        sum(j["input_bytes"] for o in read_ops for j in o["jobs"] if j["layer"] == "storage")
        / max(1, len(read_ops)), "B")
    fp = res.get("probe_footprint", {})
    total = sum(v["bytes_total"] for v in fp.values())
    m["storage.probe_named_ratio"] = (sum(v["bytes_named"] for v in fp.values()) / total
                                      if total else 0.0, "ratio")
    m["dedup.kept_ratio"] = (extra.get("kept_ratio", 0.0), "ratio")
    for q in tablegen.QUERIES:
        walls = [o["wall_s"] for o in ops if o["kind"] == "query" and o["obs"]["name"] == q]
        m[f"query.{q}_s"] = (median(walls), "s")
    pages = [o["wall_s"] for o in ops if o["kind"] == "oai_page"]
    m["oai.page_p50_s"] = (median(pages), "s")
    diffs = [o["wall_s"] for o in ops if o["kind"] == "diff"]
    m["storage.diff_s"] = (median(diffs), "s")
    m["trace.overhead_ratio"] = (res["listener_s"] / res["loop_s"] if res["loop_s"] else 0.0, "ratio")
    m["ops_failed_ratio"] = (extra["failed"] / extra["attempted"], "ratio")
    m["peak_rss_mb"] = (res["peak_rss_mb"], "MB")

    # span trees: one root per op, one child per job and per direct call
    tree = {"workload": workload, "ops": [], "direct": res.get("direct", [])}
    for o, s in zip(ops, self_s):
        tree["ops"].append({
            "span": o["id"], "name": o["kind"], "start_ms": o["start_ms"],
            "end_ms": o["end_ms"], "self_s": s, "ok": o["ok"],
            "children": [{"span": f"job{j['job']}", "name": j["layer"], "group": j["group"],
                          "start_ms": j["start_ms"], "end_ms": j["end_ms"],
                          "cpu_s": j["cpu_s"], "tasks": j["tasks"]} for j in o["jobs"]]})
    os.makedirs(os.path.dirname(spans_path), exist_ok=True)
    with open(spans_path, "w") as f:
        json.dump(tree, f)
    log(f"span trees: {spans_path}")
    return m


def write_input_bytes(workload, manifest, res):
    writes = [o for o in res["ops"] if o["kind"] in ("ingest", "corpus_batch")]
    if workload == "reservoir":
        return sum(f["bytes"] for o in writes for f in manifest["batches"][o["obs"]["batch"]])
    return sum(b["text_bytes"] for o in writes
               for b in manifest["rounds"][o["round"]] if b["class"] == o["obs"]["class"])


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("[perfbench] terminated"))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if a.seconds <= 0:
        ap.error("--seconds must be positive")

    jars = spark_jars()
    app_jar = os.path.abspath(build(jars))
    archive = class_archive(app_jar, jars)
    work = os.path.abspath(os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        manifest_path, (manifest, state) = make_inputs(a.workload, a.seed, work)
        t1 = time.time()
        res = run_jvm(app_jar, jars, archive, a.workload, manifest_path, a.seconds, a.trace,
                      os.path.join(work, "result.json"), work)

        t2 = time.time()
        extra = {}
        if a.workload == "reservoir":
            check_reservoir(state, res)
            applied = len([o for o in res["ops"] if o["kind"] == "ingest"])
            input_bytes = (sum(f["bytes"] for f in manifest["seed"]) +
                           sum(f["bytes"] for b in manifest["batches"][:applied] for f in b))
        else:
            check_corpus(state, manifest, res)
            e = state["rounds"][res["rounds"] - 1]
            input_bytes = e["input_bytes"]
            done = state["rounds"][:res["rounds"]]
            kept = sum(len(c["kept"]) for e in done for c in e["classes"].values())
            extra["kept_ratio"] = kept / sum(e["offered"] for e in done)
        log(f"phases: inputs {t1 - t0:.1f} s, jvm {t2 - t1:.1f} s, checks {time.time() - t2:.1f} s")
        attempted = len(res["ops"])
        failed = sum(1 for o in res["ops"] if not o["ok"])
        extra.update(attempted=attempted, failed=failed)
        for o in res["ops"]:
            if not o["ok"]:
                log(f"failed: {o['id']} {o['kind']} {o['error'] or 'output check'}")
        if failed:
            log(f"{failed} of {attempted} checked ops failed")

        if a.trace:
            spans = os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.json")
            metrics = per_layer(a.workload, res, manifest, extra, spans)
        else:
            metrics = end_to_end(a.workload, res, input_bytes)
        ctx = dict(res["context"], rounds=res["rounds"], loop_s=res["loop_s"],
                   seed=a.seed, workload=a.workload)
        log("context " + json.dumps(ctx))
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
