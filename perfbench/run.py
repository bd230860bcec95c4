#!/usr/bin/env python3
"""graft benchmark: two workloads against the program built from this
checkout.

  python3 perfbench/run.py --workload udl_bulk|pack_slice \
      --seed N --seconds S --trace 0|1 [--small] [--corrupt]

Run it from the root of a checkout. It builds the program (perfbench/build.py),
generates its inputs from --seed (perfbench/gen.py), measures for about
--seconds, checks every output against an independent reference (Python for
the uDLang legs, DuckDB on SparkEntry.oracleSql for the pack entries) and
prints, as its last stdout line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones (perfbench/layers.json).
--small is the self-check size; --corrupt perturbs one expected output so
the check must report a failed operation.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402

SCRIPTS = os.path.join(HERE, "scripts")
WORK = os.path.join(HERE, ".work")
CORES = 4
REGISTRY = json.load(open(os.path.join(HERE, "layers.json")))
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io",
         "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
         "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]
PACK_BATCH = ["q1_agg", "q5_star_broadcast", "q_pagerank",
              "dedup_jaccard_blocked", "u_effect_dlq"]
PACK_STREAM = ["u_stream_session"]
PACK_CHAIN = ["corpus_build_retract"]
PACK_DATA_SEED = 42  # the pack tables are fixed, like TESTDATA.md's sf dirs
PACK_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings"]


def log(msg):
    sys.stderr.write(f"[perfbench] {msg}\n")
    sys.stderr.flush()


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Ctx:
    def __init__(self, a, cp):
        self.seed, self.seconds, self.trace = a.seed, a.seconds, a.trace == 1
        self.small, self.corrupt, self.cp = a.small, a.corrupt, cp
        self.run = os.path.join(WORK, f"run-{a.workload}")
        shutil.rmtree(self.run, ignore_errors=True)
        for d in ["tmp", "spark-local", "artifacts", "warehouse", "fast"]:
            os.makedirs(os.path.join(self.run, d))
        self.attempted = 0
        self.failed = 0
        self.notes = []

    def path(self, *p):
        return os.path.join(self.run, *p)

    def jvm(self, main, args, xmx="2g"):
        cmd = ["java", f"-Xmx{xmx}"]
        for p in OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += [f"-Djava.io.tmpdir={self.path('tmp')}",
                f"-Dgraft.artifact.dir={self.path('artifacts')}",
                f"-Dspark.local.dir={self.path('spark-local')}",
                f"-Dspark.sql.warehouse.dir={self.path('warehouse')}",
                f"-Dderby.system.home={self.path('tmp')}",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                "-cp", self.cp, main] + args
        return cmd

    def env(self):
        return dict(os.environ, SPARK_LOCAL_DIRS=self.path("spark-local"))

    def check(self, what, ok, detail=""):
        """One checked operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"FAIL {what} {detail}".rstrip())

    def harness(self, mode, plan, name, xmx="4g"):
        plan = dict(plan, fast_tmp=self.path("fast"))
        pf, rf = self.path(f"{name}.plan.json"), self.path(f"{name}.result.json")
        with open(pf, "w") as f:
            json.dump(plan, f)
        t0 = time.perf_counter()
        with open(self.path(f"{name}.log"), "w") as lf:
            r = subprocess.run(
                self.jvm("org.apache.spark.sql.perfbench.Harness",
                         [mode, pf, rf], xmx), cwd=self.run, env=self.env(),
                stdin=subprocess.DEVNULL, stdout=lf, stderr=subprocess.STDOUT,
                timeout=170)
        if r.returncode != 0:
            with open(self.path(f"{name}.log")) as lf:
                sys.stderr.write(lf.read()[-3000:])
            raise SystemExit(f"harness {mode} failed")
        log(f"harness {mode}: {time.perf_counter() - t0:.1f} s")
        with open(rf) as f:
            return json.load(f)


# ---- output checks ----

def records_of_dir(d, fmt):
    recs = []
    for n in sorted(os.listdir(d)):
        p = os.path.join(d, n)
        if n.startswith(("_", ".")) or not os.path.isfile(p):
            continue
        if fmt == "msgpack":
            with open(p, "rb") as f:
                recs += gen.mp_decode_all(f.read())
        else:
            with open(p) as f:
                recs += [json.loads(x) for x in f if x.strip()]
    return recs


def digest(p):
    """Sorted content hashes of an output file or of a directory's parts."""
    files = ([os.path.join(p, n) for n in os.listdir(p)
              if not n.startswith(("_", "."))] if os.path.isdir(p) else [p])
    return sorted(hashlib.sha256(open(f, "rb").read()).hexdigest()
                  for f in files)


def as_rows(recs, keys):
    return sorted(tuple(r[k] for k in keys) for r in recs)


def corrupted(rows):
    """The expected rows with one value changed (self-check of the check)."""
    rows = list(rows)
    if rows:
        rows[0] = rows[0][:-1] + ("corrupted",)
    return rows


# ---- the cold CLI, measured in udl_bulk's traced run ----

def cold_cli(ctx, recs):
    """Cold graft.Main calls, one JVM each, over recs on stdin: two runs of
    the kernel-tier script with a module import (modimport.us), a
    --compile of the loop-tier script, and the same run call in a fresh
    harness JVM that times each layer graft.Main runs. Returns the layer
    metrics and the run record's part."""
    ev = ctx.path("cli.jsonl")
    with open(ev, "w") as f:
        f.writelines(gen.json_line(r) + "\n" for r in recs)
    want = sorted(gen.expect_modimport(recs))
    run_args = [os.path.join(SCRIPTS, "modimport.us")]

    def call(args, name):
        out = ctx.path(f"cli-{name}.out")
        with open(ev, "rb") as fi, open(out, "wb") as fo, \
                open(ctx.path(f"cli-{name}.err"), "wb") as fe:
            t0 = time.perf_counter()
            rc = subprocess.run(ctx.jvm("graft.Main", args), stdin=fi,
                                stdout=fo, stderr=fe, cwd=ctx.run,
                                env=ctx.env(), timeout=170).returncode
            wall = time.perf_counter() - t0
        return wall, rc, open(out).read()

    def check_run(name, rc, text):
        got = as_rows([json.loads(x) for x in text.splitlines() if x],
                      ["event_id", "label"])
        ctx.check(f"cli:{name}", rc == 0 and got == want,
                  f"rc={rc} got {len(got)} rows, want {len(want)}")

    runs = []
    for i in range(2):
        wall, rc, text = call(run_args, f"run{i}")
        check_run(f"run{i}", rc, text)
        runs.append(wall)
    compile_s, rc, text = call(["--compile", os.path.join(SCRIPTS, "loop.us")],
                               "compile")
    ctx.check("cli:compile", rc == 0 and text.startswith("tier: LoopTier")
              and "output schema:" in text, f"rc={rc}")
    # the traced twin of the run call
    out = ctx.path("cli-traced.out")
    plan = {"args": run_args, "request": "cli:run", "stdin": ev,
            "stdout": out, "lib_dirs": [SCRIPTS]}
    spawn = time.time()
    t0 = time.perf_counter()
    res = ctx.harness("cli", plan, "cli-traced", xmx="2g")
    wall = time.perf_counter() - t0
    check_run("traced", res["exit"], open(out).read())
    L = res["layers"]
    start_to_main = res["main_epoch_ms"] / 1e3 - spawn
    root = sum(s["end_ns"] - s["start_ns"] for s in L["spans"]
               if s["parent"] == 0) / 1e9
    layers = {"cli_run_p50_s": median(runs), "cli_compile_p50_s": compile_s,
              "lang.parse_ms": L["lang.parse_ms"],
              "lang.typecheck_ms": L["lang.typecheck_ms"],
              "lang.compile_ms": L["lang.compile_ms"]}
    # unattributed: process wall minus JVM start and the request span, plus
    # what the request span leaves to no child span
    unattributed = wall - start_to_main - root + L["unattributed_s"]["cli:run"]
    report = {"run_s": runs, "compile_s": compile_s, "traced_wall_s": wall,
              "tier": res["tier"], "spans": L["spans"]}
    return layers, unattributed, report


# ---- udl_bulk ----

BULK_LEGS = ["file.column", "file.kernel", "file.dlq", "file.msgpack",
             "pipe.json", "pipe.msgpack"]


def udl_bulk(ctx):
    n_file, n_pipe, n_warm, n_evals, n_cli = (
        (300, 200, 50, 100, 10) if ctx.small else
        (20_000, 6_000, 2_000, 1_000, 60))
    data = ctx.path("data")
    os.makedirs(data)
    recs = gen.events(ctx.seed, n_file)
    gen.write_framings(recs, data, "bulk", dirs=True, streams=False)
    gen.write_framings(recs[:n_pipe], data, "pipe", dirs=True, streams=True)
    gen.write_framings(gen.events(ctx.seed + 1, n_warm), data, "warm",
                       dirs=True, streams=True)
    gen.write_framings(recs[:n_evals], data, "evals", dirs=True, streams=False)
    sc = {s: os.path.join(SCRIPTS, f"{s}.us")
          for s in ["column", "kernel", "dlq", "trace"]}

    def legs(src, out):
        mp, js = f"{data}/{src}.msgpack", f"{data}/{src}.json"
        pipe = "pipe" if src == "bulk" else src
        # file legs write JSON: graft.Main --format msgpack --out fails on
        # this commit (see CHANGES.md), so msgpack input is measured with
        # --in and stdout output (file.msgpack) and on the pipe leg
        legs = [
            {"name": "file.column", "args": ["--format", "json", "--in", js,
                                             "--out", f"{out}/file.column", sc["column"]]},
            {"name": "file.kernel", "args": ["--format", "json", "--in", js,
                                             "--out", f"{out}/file.kernel", sc["kernel"]]},
            {"name": "file.dlq", "args": ["--mode", "dlq", "--format", "json",
                                          "--in", js, "--out", f"{out}/file.dlq",
                                          sc["dlq"]]},
            {"name": "file.msgpack", "args": ["--format", "msgpack", "--in", mp,
                                              sc["column"]],
             "stdout": f"{out}/file.msgpack"},
            {"name": "pipe.json", "args": ["--format", "json", sc["column"]],
             "stdin": f"{data}/{pipe}.jsonl", "stdout": f"{out}/pipe.json"},
            {"name": "pipe.msgpack", "args": ["--format", "msgpack", sc["column"]],
             "stdin": f"{data}/{pipe}.mp", "stdout": f"{out}/pipe.msgpack"},
        ]
        for leg in legs:
            leg["stderr"] = f"{out}/{leg['name']}.err"
        return legs

    max_rounds = 64
    for r in range(max_rounds):
        os.makedirs(ctx.path("out", str(r)))
    os.makedirs(ctx.path("out", "traced"))
    os.makedirs(ctx.path("warm"))
    out_t = ctx.path("out", "{round}")
    plan = {
        "cores": CORES, "seconds": ctx.seconds, "trace": ctx.trace,
        "setups": 3, "min_rounds": 4, "lib_dirs": [SCRIPTS],
        "warmup": legs("warm", ctx.path("warm")),
        "legs": legs("bulk", out_t),
        "decompose": {
            "column": sc["column"], "kernel": sc["kernel"],
            "msgpack_in": f"{data}/bulk.msgpack", "json_in": f"{data}/bulk.json",
            "sink_leg": "file.column", "pipe_leg": "pipe.json",
            "pipe_twin_args": ["--format", "json", "--in", f"{data}/pipe.json",
                               "--out", ctx.path("twin"), sc["column"]],
            "evals_args": ["--mode", "dlq", "--format", "json", "--in",
                           f"{data}/evals.json", "--out", ctx.path("evals"),
                           sc["trace"]],
            "evals_records": n_evals, "err_dir": ctx.path("out", "traced")},
    }
    res = ctx.harness("bulk", plan, "bulk")
    rounds = res["rounds"]
    if rounds > max_rounds:
        raise SystemExit("too many rounds for the prepared output dirs")
    col_keys, ker_keys = ["event_id", "cat", "score"], ["event_id", "steps", "score"]
    want_col = gen.expect_column(recs)
    want = {"file.column": (sorted(want_col), col_keys, "json"),
            "file.kernel": (sorted(gen.expect_kernel(recs)), ker_keys, "json"),
            "file.msgpack": (sorted(want_col), col_keys, "msgpack"),
            "pipe.json": (sorted(gen.expect_column(recs[:n_pipe])), col_keys, "json"),
            "pipe.msgpack": (sorted(gen.expect_column(recs[:n_pipe])), col_keys,
                             "msgpack")}
    good, dead = gen.expect_dlq(recs)
    want["file.dlq"] = (sorted(good), ker_keys, "json")
    corrupt_once = [ctx.corrupt]
    last = rounds - 1
    for leg in BULK_LEGS:
        rows, keys, fmt = want[leg]
        if corrupt_once[0]:
            rows, corrupt_once[0] = corrupted(rows), False
        ref_digest = None
        for r in [last] + list(range(last)):  # the last round is checked in full
            p = ctx.path("out", str(r), leg)
            ok, detail = True, ""
            if leg == "file.dlq":
                errs = [x for x in open(p + ".err") if x.strip()]
                ok = len(errs) == dead and all("low value" in x for x in errs)
                detail = f"dead {len(errs)} want {dead}"
            if ok:
                d = digest(p)
                if r != last and d == ref_digest:
                    pass  # byte-identical to the fully checked round
                else:
                    got = (records_of_dir(p, fmt) if os.path.isdir(p) else
                           (gen.mp_decode_all(open(p, "rb").read()) if fmt == "msgpack"
                            else [json.loads(x) for x in open(p) if x.strip()]))
                    got = as_rows(got, keys)
                    ok = got == rows
                    detail = f"got {len(got)} rows, want {len(rows)}"
                if r == last:
                    ref_digest = d if ok else None
            ctx.check(f"{leg}@{r}", ok, detail)
    walls = res["walls"]
    med = {leg: median(walls[leg]) for leg in BULK_LEGS}
    e2e = {"setup_s": median(res["setup_s"]), "round_s": sum(med.values())}
    layers = {"file_rps.column": n_file / med["file.column"],
              "file_rps.kernel": n_file / med["file.kernel"],
              "file_rps.dlq": n_file / med["file.dlq"],
              "file_rps.msgpack": n_file / med["file.msgpack"],
              "pipe_rps.json": n_pipe / med["pipe.json"],
              "pipe_rps.msgpack": n_pipe / med["pipe.msgpack"]}
    report = {"n": {"setup_s": len(res["setup_s"]), "round_s": rounds},
              "setup_s": res["setup_s"], "session_create_s": res["session_create_s"],
              "rounds": rounds, "walls": walls, "cpu_s": res["cpu_s"],
              "steal": res["steal"], "records": {"file": n_file, "pipe": n_pipe}}
    if ctx.trace:
        L = res["layers"]
        layers.update({k: v for k, v in L.items()
                       if isinstance(v, (int, float))})
        jvm_layers(layers, res)
        untraced = sum(walls[leg][-1] for leg in BULK_LEGS)
        layers["tracing.overhead_ratio"] = res["traced_round_s"] / untraced
        # the cold CLI: its own JVMs, after the harness has exited; its
        # front-end times replace the warm ones of the legs
        cli_layers, L["unattributed_s"]["cli:run"], report["cli"] = \
            cold_cli(ctx, recs[:n_cli])
        layers.update(cli_layers)
        layers["tracing.unattributed_s"] = sum(L["unattributed_s"].values())
        report.update({"tiers": res["tiers"], "traced_walls": res["traced_walls"],
                       "unattributed_s": L["unattributed_s"], "spans": L["spans"]})
    return e2e, layers, report


# ---- pack_slice ----

def pack_slice(ctx):
    sf = 0.001 if ctx.small else 0.01
    data = ctx.path("sf")
    gen.pack_tables(PACK_DATA_SEED, sf, data)
    entries = PACK_BATCH + PACK_STREAM + PACK_CHAIN
    plan = {"cores": CORES, "sf_dir": data, "trace": ctx.trace, "setups": 3,
            "seconds": ctx.seconds, "min_passes": 3,
            "artifact_dir": ctx.path("artifacts"), "entries": entries,
            "tables": PACK_TABLES, "warm_entry": "q1_agg",
            "chain_entries": PACK_CHAIN, "out_dir": ctx.path("pack-out")}
    res = ctx.harness("pack", plan, "pack")
    oracle = Oracle(data, sf)
    corrupt_once = [ctx.corrupt]
    ref = res["reference_pass"]
    ref_ok = {}
    # the reference pass first; every other pass (the traced one too) is
    # either identical to it, or was written out and is checked in full
    for tag in [ref] + [t for t in res["rows"] if t != ref]:
        counts = res["rows"][tag]
        for name in entries:
            ok, detail = True, ""
            if name not in res["written"][tag]:
                ok = ref_ok[name]
                ctx.check(f"entry:{name}@{tag}", ok, f"identical to pass {ref}")
                continue
            try:
                scols, srows = oracle.spark(ctx.path("pack-out", tag, name))
                ocols, ohash, on = oracle.expected(name, res["oracle_sql"][name])
                if corrupt_once[0]:
                    ohash, corrupt_once[0] = "corrupted", False
                if len(srows) != counts[name]:
                    ok, detail = False, f"timed rows {counts[name]} != written {len(srows)}"
                elif sorted(scols) != sorted(ocols):
                    ok, detail = False, f"cols {sorted(scols)} != {sorted(ocols)}"
                elif table_hash(scols, srows) != ohash:
                    ok, detail = False, f"hash mismatch ({len(srows)} vs {on} rows)"
            except Exception as e:  # a failed query is a failed operation
                ok, detail = False, str(e)[:200]
            if tag == ref:
                ref_ok[name] = ok
            ctx.check(f"entry:{name}@{tag}", ok, detail)
    w = {e: median(res["walls"][e]) for e in entries}
    e2e = {"setup_s": median(res["setup_s"]),
           "round_s": sum(w[e] for e in entries)}
    layers = {"pack_total_s": sum(w[e] for e in entries),
              "pack_batch_s": sum(w[e] for e in PACK_BATCH),
              "pack_stream_s": sum(w[e] for e in PACK_STREAM),
              "pack_chain_s": sum(w[e] for e in PACK_CHAIN)}
    for e in entries:
        layers[f"entry.{e}.wall_s"] = w[e]
    report = {"n": {"setup_s": len(res["setup_s"]), "round_s": res["passes"]},
              "setup_s": res["setup_s"], "session_create_s": res["session_create_s"],
              "walls": res["walls"], "cpu_s": res["cpu_s"], "steal": res["steal"],
              "rows": res["rows"], "sf": sf}
    if ctx.trace:
        L = res["layers"]
        layers.update({k: v for k, v in L.items() if isinstance(v, (int, float))})
        jvm_layers(layers, res)
        layers["tracing.unattributed_s"] = sum(L["unattributed_s"].values())
        tw = res["traced_walls"]
        layers["tracing.overhead_ratio"] = sum(tw[e] for e in entries) / \
            layers["pack_total_s"]
        report.update({"traced_walls": tw, "unattributed_s": L["unattributed_s"],
                       "spans": L["spans"]})
    return e2e, layers, report


class Oracle:
    """DuckDB over the generated tables running SparkEntry.oracleSql. The
    tables do not depend on --seed, so each entry's expected result is
    computed once per checkout and kept under .work/oracle, keyed by the
    generator, the scale and the SQL text."""

    def __init__(self, data, sf):
        import duckdb
        self.con = duckdb.connect()
        for t in PACK_TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        with open(os.path.join(HERE, "gen.py"), "rb") as f:
            self.key = hashlib.sha256(f.read() + f"{sf}/{PACK_DATA_SEED}".encode())
        self.cache = os.path.join(WORK, "oracle")
        os.makedirs(self.cache, exist_ok=True)

    def spark(self, out_dir):
        r = self.con.execute(f"SELECT * FROM '{out_dir}/*.parquet'")
        return [d[0] for d in r.description], r.fetchall()

    def expected(self, name, sql):
        k = self.key.copy()
        k.update(sql.encode())
        path = os.path.join(self.cache, f"{name}-{k.hexdigest()[:24]}.json")
        if not os.path.exists(path):
            o = self.con.sql(sql)
            cols, rows = list(o.columns), o.fetchall()
            with open(path + ".tmp", "w") as f:
                json.dump([cols, table_hash(cols, rows), len(rows)], f)
            os.replace(path + ".tmp", path)
        with open(path) as f:
            return json.load(f)


def jvm_layers(layers, res):
    layers["session.create_s"] = res["session_create_s"][0]
    layers["jvm.jit_s"] = res["jvm_jit_s"]
    layers["jvm.gc_s"] = res["jvm_gc_s"]
    layers["jvm.classes_loaded"] = res["jvm_classes_loaded"]
    layers["jvm.start_to_main_s"] = (res["main_epoch_ms"] -
                                     res["jvm_start_epoch_ms"]) / 1e3


def canon(v):
    return f"{v:.10g}" if isinstance(v, float) else repr(v)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for ln in sorted("\x1f".join(canon(r[i]) for i in order) for r in rows):
        h.update(ln.encode() + b"\n")
    return h.hexdigest()


WORKLOADS = {"udl_bulk": udl_bulk, "pack_slice": pack_slice}


def run_stamp(seed, load1m):
    def first_line(cmd, stream):
        try:
            r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                               timeout=30)
        except (OSError, subprocess.SubprocessError):
            return None
        lines = getattr(r, stream).strip().splitlines()
        return lines[0] if r.returncode == 0 and lines else None
    return {"commit": first_line(["git", "rev-parse", "HEAD"], "stdout"),
            "source_sha256": build.stamp(build.program_sources(ROOT)),
            "cpus": os.cpu_count(), "spark_master": f"local[{CORES}]",
            "seed": seed, "jvm": first_line(["java", "-version"], "stderr"),
            "load1m": load1m}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--small", action="store_true")
    ap.add_argument("--corrupt", action="store_true")
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log(f"{ROOT} holds no graft sources (build.sbt, src/main/scala)")
        return 2
    load1m = os.getloadavg()[0]
    cp = build.build(ROOT, WORK, log)
    ctx = Ctx(a, cp)
    e2e, layers, report = WORKLOADS[a.workload](ctx)
    layers["ops_failed_ratio"] = ctx.failed / max(1, ctx.attempted)
    stamp = run_stamp(a.seed, load1m)
    stamp["sf"] = report.get("sf")
    record = {"workload": a.workload, "stamp": stamp, "e2e": e2e,
              "layers": layers, "attempted": ctx.attempted,
              "failed": ctx.failed, "notes": ctx.notes, "report": report}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results",
                           f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    for note in ctx.notes:
        print(note)
    print("stamp " + json.dumps(stamp))
    defs = REGISTRY["per_layer" if a.trace else "end_to_end"]
    values = layers if a.trace else e2e
    print(f"{a.workload}: {ctx.attempted} checked operations, {ctx.failed} failed")
    for m in defs:
        if m["name"] in values:
            n = report["n"].get(m["name"])
            print(f"  {m['name']:<40} {values[m['name']]:>14.6g} {m['unit']}"
                  + (f"  n={n}" if n else ""))
    if report.get("steal"):
        st = report["steal"]
        xs = st if isinstance(st, list) else [
            x for v in st.values() for x in (v if isinstance(v, list) else [v])]
        print(f"  host steal share during timed operations: {median(xs):.3f}")
    if a.trace:
        for req, s in report.get("unattributed_s", {}).items():
            print(f"  unattributed {req:<36} {s:>11.4f} s")
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in defs}
    shutil.rmtree(ctx.run, ignore_errors=True)
    print(json.dumps({"correct": ctx.failed == 0, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
