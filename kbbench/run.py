"""Files-to-knowledge-base benchmark: one run of one workload.

    python3 kbbench/run.py --workload kb_rebuild --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed, starts ``worker.py`` (the Spark side) in a fresh working directory
under ``.kbbench/``, checks every operation's output against values
computed here in plain Python, and prints one JSON object as the last
line of standard output:

    {"correct": true, "attempted": 17, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (and writes every span to ``.kbbench/trace-*.json``).
See ``kbbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import expect  # noqa: E402
import gen  # noqa: E402
from spark_metrics import median  # noqa: E402

CORES = len(os.sched_getaffinity(0))
DEADLINE_S = 170  # the whole run, generation and checks included

# ``round``: ops per round; every round is the same mix of ops.
# ``round_s``: nominal wall time of one round. ``--seconds`` buys
# round(seconds / round_s) rounds (at least one), so which ops are timed
# never depends on how fast the machine happens to be.
WORKLOADS = {
    # one op: typed history tables -> knowledge_base -> overwrite_with_backup
    "kb_rebuild": {"history_rows": 80_000, "warmup_ops": 2, "round": 1, "round_s": 2.0},
    # one op: one night of zips + manifests -> history appends -> store
    # fold -> store KB -> overwrite_with_backup; the store is compacted
    # every third night, so a round is three nights
    "nightly_load": {
        "history_rows": 10_000,
        "mawbs": 4,
        "waybills_per_mawb": 500,
        "warmup_ops": 0,
        "round": 3,
        "round_s": 15.0,
    },
}


def plan(cfg: dict, seconds: float, trace: bool) -> list[dict]:
    """The run's ops: a cold op and ``warmup_ops`` more (set-up), then
    whole timed rounds. With tracing on, untraced and traced rounds
    alternate, starting and ending untraced, so the tracing overhead is
    read within the run."""
    steps = [{"i": i, "timed": False, "traced": False} for i in range(1, 2 + cfg["warmup_ops"])]
    rounds = max(1, round(seconds / cfg["round_s"]))
    if trace:
        rounds = 2 * rounds + 1
    for r in range(rounds):
        for _ in range(cfg["round"]):
            steps.append({"i": len(steps) + 1, "timed": True, "traced": trace and r % 2 == 1})
    return steps


def stop_tree(proc: subprocess.Popen, work: str) -> None:
    """Kill what is left of the worker: its process group (the JVM), and
    any process still working in ``work`` (PySpark's worker daemon puts
    itself in a group of its own). Waits until they are gone."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    for _ in range(50):
        left = []
        for d in os.listdir("/proc"):
            try:
                if d.isdigit() and os.readlink(f"/proc/{d}/cwd").startswith(work):
                    left.append(int(d))
            except OSError:
                continue
        if not left:
            return
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def fail(msg: str, code: int = 2) -> int:
    print(f"kbbench: {msg}", file=sys.stderr)
    return code


def read_rows(path: str, cols: list[str]) -> list[tuple]:
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=cols)
    return list(zip(*(t.column(c).to_pylist() for c in cols)))


def count_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=[]).num_rows if os.path.isdir(path) else 0


KB_COLS = ["original_description", "official_description", "ccc_code", "frequency"]


def kb_snapshot(cfg: dict, i: int) -> str:
    """The worker's copy of the knowledge base as op ``i`` left it."""
    return f"{cfg['workdir']}/snap/op{i:04d}"


def check_kb_rebuild(cfg: dict, report: dict, hist: gen.Records, _nights: dict) -> dict[int, list[str]]:
    best = expect.winners(expect.votes(hist.a + hist.a_empty_hawb, hist.b + hist.b_empty_hawb))
    return {
        o["i"]: expect.kb_errors(read_rows(kb_snapshot(cfg, o["i"]), KB_COLS), best)
        for o in report["ops"]
        if not o["error"]
    }


def check_nightly(cfg: dict, report: dict, hist: gen.Records, nights: dict) -> dict[int, list[str]]:
    out = f"{cfg['workdir']}/out"
    counts = expect.votes(hist.a + hist.a_empty_hawb, hist.b + hist.b_empty_hawb)
    errors: dict[int, list[str]] = {}
    for o in report["ops"]:
        n = o["i"]
        parts = nights[n]
        a_rows = [r for _, rec in parts for r in rec.a]
        b_rows = [r for _, rec in parts for r in rec.b]
        counts.update(expect.votes(a_rows, b_rows))
        if o["error"]:
            continue
        errs = []
        for name, path, want in (
            ("A rows", f"{out}/hist_a/night={n}", len(a_rows)),
            ("B rows", f"{out}/hist_b/night={n}", len(b_rows)),
            ("quarantined", f"{out}/quarantine/night={n}", gen.QUARANTINE_PER_NIGHT),
        ):
            got = count_rows(path)
            o[name] = got
            if got != want:
                errs.append(f"night {n}: {got} {name} appended, expected {want}")
        errs += expect.kb_errors(read_rows(kb_snapshot(cfg, n), KB_COLS), expect.winners(counts))
        errors[n] = errs
    last = max(errors, default=None)
    if last is not None:
        store = set(read_rows(f"{out}/kb", KB_COLS))
        full = set(read_rows(f"{out}/kb_full", KB_COLS))
        if store != full:
            errors[last].append(
                f"store KB differs from a full rebuild: {len(store - full)} rows only in the store, "
                f"{len(full - store)} only in the rebuild"
            )
    return errors


def end_to_end(report: dict, ok_timed: list[dict]) -> dict:
    m = {
        "setup_s": report["setup_cpu_s"],
        "op_cpu_s": sum(o["cpu_s"] for o in ok_timed) / len(ok_timed),
        "stored_bytes_per_input_byte": sum(o["written"] for o in ok_timed) / sum(o["input_bytes"] for o in ok_timed),
    }
    return m


def per_layer(report: dict, ok_timed: list[dict], spawn: float) -> tuple[dict, list[str]]:
    """Per-layer metrics from the traced ops. A layer the workload does
    not call reads 0 on it. Returns the metrics and any op whose spans
    do not fit inside its wall time."""
    traced = [o for o in ok_timed if o["traced"]]
    plain = [o for o in ok_timed if not o["traced"]]
    spans: dict[int, Counter] = {o["i"]: Counter() for o in traced}
    for s in report["spans"]:
        if s["op"] in spans:
            spans[s["op"]][s["name"]] += s["end"] - s["start"]

    def span(name: str, only_present: bool = False) -> float:
        return median(spans[o["i"]][name] for o in traced if not only_present or name in spans[o["i"]])

    def field(name: str) -> float:
        return median(o[name] for o in traced if name in o)

    def rest(name: str) -> float:
        return median(o["rest"][name] for o in traced)

    unfit = [
        f"op {o['i']}: spans {sum(spans[o['i']].values()):.3f} s > op {o['seconds']:.3f} s"
        for o in traced
        if sum(spans[o["i"]].values()) > o["seconds"] + 1e-3
    ]
    rows_out = [o["a_rows"] + o["b_parsed"] - o["quarantined"] for o in traced if "b_parsed" in o]
    probes, state = report["probes"], report["state"]
    m = {
        "session.start_s": report["session_start_s"],
        "sources.xml_parse_s": span("sources.xml_parse"),
        "sources.xlsx_parse_s": span("sources.xlsx_parse"),
        "sources.python_eval_s": rest("python_eval_s"),
        "sources.rows_out": median(rows_out),
        "sources.quarantined": field("quarantined"),
        "functions.normalize_s": probes.get("normalize_s", 0.0),
        "operators.valid_keys": probes.get("valid_keys", 0),
        "operators.vote_s": span("operators.vote"),
        "operators.kb_rows": field("kb_rows"),
        "plans.align_s": span("plans.align"),
        "plans.aligned_pairs": field("aligned_pairs"),
        "plans.exchanges": rest("exchanges"),
        "plans.shuffle_bytes": rest("shuffle_bytes"),
        "plans.spill_bytes": rest("spill_bytes"),
        "plans.task_skew": rest("task_skew"),
        "plans.driver_gap_s": median(o["seconds"] - o["rest"]["sql_s"] for o in traced),
        "sinks.kb_write_s": span("sinks.kb_write"),
        "sinks.bytes_written": field("written"),
        "sinks.append_s": span("sinks.append"),
        "streaming.fold_s": span("streaming.fold"),
        "streaming.kb_read_s": span("streaming.kb_read"),
        "streaming.compact_s": span("streaming.compact", only_present=True),
        "streaming.state_rows": state.get("rows", 0),
        "streaming.state_bytes": state.get("bytes", 0),
        "run.peak_rss_mb": report["peak_rss_mb"],
        "run.op_wall_p50_s": median(o["seconds"] for o in plain),
        "run.setup_wall_s": report["first_timed"] - spawn,
        "run.steal_share": median(o["steal"] for o in ok_timed),
        "trace.overhead_ratio": (
            median(o["seconds"] for o in traced) / median(o["seconds"] for o in plain) if plain else 0.0
        ),
        "trace.unattributed_s": median(o["seconds"] - sum(spans[o["i"]].values()) for o in traced),
    }
    return m, unfit


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.time()

    if not os.path.isfile(os.path.join(ROOT, "sea_express_customs_etl_spark", "session.py")):
        return fail(f"the engine package is not under {ROOT}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    try:
        import pyarrow  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        return fail(f"missing dependency: {e}")

    state = os.path.join(ROOT, ".kbbench")
    work = os.path.join(state, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("local", "tmp", "in", "out"):
        os.makedirs(os.path.join(work, d))

    cfg = {
        **WORKLOADS[args.workload],
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": CORES,
        "workdir": work,
        "report": os.path.join(work, "report.json"),
    }
    # inputs, before anything is timed
    voc = gen.vocab(args.seed)
    hist = gen.history(args.seed, cfg["history_rows"], voc)
    if args.workload == "kb_rebuild":
        cfg["hist_a"], cfg["hist_b"] = f"{work}/in/hist_a", f"{work}/in/hist_b"
    else:  # the seed history is night 0 of the history tables
        cfg["hist_a"], cfg["hist_b"] = f"{work}/out/hist_a/night=0", f"{work}/out/hist_b/night=0"
    gen.write_history(hist, cfg["hist_a"], cfg["hist_b"], n_files=2 * CORES, seed=args.seed)
    cfg["plan"] = plan(cfg, args.seconds, bool(args.trace))
    nights: dict[int, list] = {}
    if args.workload == "nightly_load":
        cfg["night_bytes"] = {}
        for step in cfg["plan"]:
            n = step["i"]
            nights[n] = gen.night(args.seed, n, voc, cfg["mawbs"], cfg["waybills_per_mawb"])
            cfg["night_bytes"][n] = gen.write_night(nights[n], n, *gen.night_dirs(work, n))
    with open(os.path.join(work, "config.json"), "w") as f:
        json.dump(cfg, f)

    env = {k: v for k, v in os.environ.items() if not k.startswith(("SPARK_GRAFT_", "SPARK_MASTER", "PYSPARK"))}
    env.update(
        PYTHONPATH=ROOT,
        PYSPARK_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
        # no JVM file outside the checkout: temp files under ``work``, and
        # no perf-data file (HotSpot keeps it in /tmp whatever tmpdir says)
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    )
    log_path = os.path.join(work, "worker.log")
    spawn = time.time()
    phases = {"generate": spawn - t_start}
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), os.path.join(work, "config.json")],
            cwd=work,
            env=env,
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(10.0, DEADLINE_S - (spawn - t_start)))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop_tree(proc, work)
    if code != 0 or not os.path.exists(cfg["report"]):
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        return fail(f"worker ended with {code if code is not None else 'a timeout'}", 3)

    phases["worker"] = time.time() - spawn
    with open(cfg["report"]) as f:
        report = json.load(f)
    check = check_kb_rebuild if args.workload == "kb_rebuild" else check_nightly
    errors = check(cfg, report, hist, nights)
    failed = wrong = 0
    for o in report["ops"]:
        o["check"] = errors.get(o["i"], [])
        failed += bool(o["error"] or o["check"])
        wrong += bool(o["check"])
        if o["error"] or o["check"]:
            print(f"op {o['i']} failed: {o['error'] or '; '.join(o['check'])}", file=sys.stderr)
    ok_timed = [o for o in report["ops"] if o["timed"] and not o["error"] and not o["check"]]
    if not ok_timed:
        return fail("no timed op succeeded", 3)

    if args.trace:
        values, unfit = per_layer(report, ok_timed, spawn)
        for line in unfit:
            print(f"spans do not reconcile: {line}", file=sys.stderr)
        with open(os.path.join(state, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"config": cfg, "metrics": values, **report}, f)
    else:
        values = end_to_end(report, ok_timed)
    units = {m["name"]: m["unit"] for m in bench["per_layer" if args.trace else "end_to_end"]}
    assert values.keys() == units.keys(), values.keys() ^ units.keys()
    metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    shutil.rmtree(work, ignore_errors=True)
    phases["check"] = time.time() - t_start - phases["generate"] - phases["worker"]
    print("kbbench: " + ", ".join(f"{k} {v:.1f} s" for k, v in phases.items()), file=sys.stderr)
    print(json.dumps({"correct": wrong == 0, "attempted": len(report["ops"]), "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
