"""The Spark side of one benchmark run.

``run.py`` generates the inputs, then starts this process as
``python3 kbbench/worker.py <config.json>`` in a fresh working
directory. It builds the session with ``session.get_spark`` (master and
app name only), runs the workload's operations against the engine's
public functions, and writes a JSON report next to the config: the time
of every operation, set-up time, peak memory, bytes written, and with
tracing on, the per-layer readings. The outputs themselves stay on disk
for ``run.py`` to check.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from spark_metrics import RestStatus, Spans, descendants, du, median, steal_share, tree_cpu_s, tree_peak_rss_mb  # noqa: E402

STORE = "kbstore"


class Run:
    def __init__(self, cfg: dict) -> None:
        self.cfg = cfg
        self.work = cfg["workdir"]
        self.out = os.path.join(self.work, "out")
        self.kb_path = os.path.join(self.out, "kb")
        self.trace = bool(cfg["trace"])
        self.spans = Spans()
        self.ops: list[dict] = []
        self.peak_rss = 0.0
        self.first_timed: float | None = None
        self.setup_cpu_s: float | None = None
        self.probes: dict = {}  # kb_rebuild, traced: sub-layer readings
        self.state: dict = {}  # nightly_load, traced: vote store size

        t = time.time()
        from sea_express_customs_etl_spark.session import get_spark

        self.spark = get_spark(app_name=f"kbbench-{cfg['workload']}", master=f"local[{cfg['cores']}]")
        self.session_start_s = time.time() - t
        self.rest = RestStatus(self.spark) if self.trace else None

    # -- bookkeeping ------------------------------------------------------

    def snapshot(self) -> dict[str, int]:
        """Files of the tables the run maintains; rollback snapshots are
        left out."""
        snap = du(self.out, skip="_backup_")
        snap.update(du(os.path.join(self.work, "spark-warehouse")))
        return snap

    def run_op(self, step: dict, body, input_bytes: int) -> None:
        """Run one operation, timing it; failures are counted, not raised."""
        i, traced = step["i"], step["traced"]
        if step["timed"] and self.first_timed is None:
            self.first_timed = time.time()
            self.setup_cpu_s = tree_cpu_s(os.getpid())
        self.spans.op = i if traced else None
        before = self.snapshot()
        cpu0, st0 = tree_cpu_s(os.getpid()), steal_share()
        t0 = time.time()
        err = None
        try:
            extra = body(traced) or {}
        except Exception:  # an op that raises is a failed op
            err = traceback.format_exc(limit=5)
            extra = {}
        t1 = time.time()
        cpu1, st1 = tree_cpu_s(os.getpid()), steal_share()
        self.spans.op = None
        rec = {
            **step,
            "start": t0,
            "seconds": t1 - t0,
            "cpu_s": cpu1 - cpu0,
            "steal": (st1[0] - st0[0]) / max(1, st1[1] - st0[1]),
            "error": err,
            "written": sum(size for p, size in self.snapshot().items() if p not in before),
            "input_bytes": input_bytes,
            **extra,
        }
        if os.path.isdir(self.kb_path):  # kept for run.py to check
            shutil.copytree(self.kb_path, os.path.join(self.work, "snap", f"op{i:04d}"))
        if traced and err is None:
            rec["rest"] = self.rest.summary(self.rest.executions(t0, t1))
        rec["peak_rss_mb"] = tree_peak_rss_mb(os.getpid())
        self.peak_rss = max(self.peak_rss, rec["peak_rss_mb"])
        self.ops.append(rec)
        if err:
            print(err, file=sys.stderr)

    def processes(self) -> list[tuple[str, float]]:
        """(command, peak RSS MB) of every process in the tree now."""
        out = []
        for p in descendants(os.getpid()):
            try:
                with open(f"/proc/{p}/comm") as f:
                    comm = f.read().strip()
                with open(f"/proc/{p}/status") as f:
                    hwm = next(int(x.split()[1]) for x in f if x.startswith("VmHWM:"))
            except (OSError, StopIteration):
                continue
            out.append((comm, hwm / 1024))
        return out

    def materialise(self, df):
        df = df.persist()
        return df, df.count()

    # -- kb_rebuild -------------------------------------------------------

    def kb_rebuild(self) -> None:
        from sea_express_customs_etl_spark.operators.vote import majority_vote
        from sea_express_customs_etl_spark.plans.knowledge import knowledge_aligned, knowledge_base
        from sea_express_customs_etl_spark.sinks.parquet_sink import overwrite_with_backup

        cfg = self.cfg
        hist_a, hist_b = cfg["hist_a"], cfg["hist_b"]
        kb_path = self.kb_path
        input_bytes = sum(du(hist_a).values()) + sum(du(hist_b).values())
        cols = ("original_description", "official_description", "ccc_code", "frequency")

        def op(i: int):
            def body(traced: bool):
                a = self.spark.read.parquet(hist_a)
                b = self.spark.read.parquet(hist_b)
                if not traced:
                    overwrite_with_backup(knowledge_base(a, b), kb_path, timestamp=f"op{i:04d}")
                    return None
                sp = self.spans.span
                with sp("plans.align"):
                    aligned, pairs = self.materialise(knowledge_aligned(a, b))
                with sp("operators.vote"):
                    kb, kb_rows = self.materialise(majority_vote(aligned).select(*cols))
                with sp("sinks.kb_write"):
                    overwrite_with_backup(kb, kb_path, timestamp=f"op{i:04d}")
                with sp("unpersist"):
                    kb.unpersist()
                    aligned.unpersist()
                return {"aligned_pairs": pairs, "kb_rows": kb_rows}

            return body, input_bytes

        for step in self.cfg["plan"]:
            self.run_op(step, *op(step["i"]))
        if self.trace:
            self.kb_probes(hist_a, hist_b)

    def kb_probes(self, hist_a: str, hist_b: str) -> None:
        """Sub-layer readings outside the operations: the normalisation
        the align span pays for, and the valid-key count."""
        import pyspark.sql.functions as F

        from sea_express_customs_etl_spark.functions.strings import normalize_text_col
        from sea_express_customs_etl_spark.operators.linking import add_link_key, count_matched_keys

        a = self.spark.read.parquet(hist_a)
        b = self.spark.read.parquet(hist_b)
        times = []
        for _ in range(3):
            t = time.time()
            a.select(normalize_text_col(F.col("description_original"))).write.format("noop").mode(
                "overwrite"
            ).save()
            times.append(time.time() - t)
        a_k = add_link_key(
            a.filter(
                F.col("mawb_no").isNotNull()
                & F.col("hawb_no").isNotNull()
                & F.col("description_original").isNotNull()
            )
        )
        b_k = add_link_key(b.filter(F.col("mawb_no").isNotNull() & F.col("hawb_no").isNotNull()))
        self.probes = {"normalize_s": median(times), "valid_keys": count_matched_keys(a_k, b_k).count()}

    # -- nightly_load -----------------------------------------------------

    def nightly_load(self) -> None:
        from sea_express_customs_etl_spark.sinks.parquet_sink import append_parquet, overwrite_with_backup
        from sea_express_customs_etl_spark.sources.excel_source import declared_cargo, read_manifests_raw
        from sea_express_customs_etl_spark.sources.xml_source import (
            official_history,
            read_bid_heads_quarantined,
            split_quarantine,
        )
        from sea_express_customs_etl_spark.streaming.knowledge_store import (
            committed_vote_state,
            compact_knowledge_store,
            knowledge_batch_writer,
            knowledge_store_kb,
        )

        cfg = self.cfg
        spark = self.spark
        hist_a, hist_b = cfg["hist_a"], cfg["hist_b"]  # .../night=0 holds the seed history
        root_a, root_b = os.path.dirname(hist_a), os.path.dirname(hist_b)
        quar = os.path.join(self.out, "quarantine")
        kb_path = self.kb_path
        votes_dir = os.path.join(self.work, "spark-warehouse", f"{STORE}_votes")
        every = cfg["round"]
        # nfkc on, to agree with knowledge_base's default (see README)
        writer = knowledge_batch_writer(STORE, use_nfkc=True)

        # seed the vote store from the history: batch 0
        writer(spark.read.parquet(hist_a), spark.read.parquet(hist_b), 0)

        def op(n: int):
            xml_dir, xlsx_dir = gen.night_dirs(self.work, n)
            a_n, b_n = f"{root_a}/night={n}", f"{root_b}/night={n}"

            def body(traced: bool):
                sp = self.spans.span
                extra = {}
                with sp("sources.xml_parse"):
                    both = read_bid_heads_quarantined(spark, xml_dir).persist()
                    if traced:
                        extra["b_parsed"] = both.count()
                records, quarantine = split_quarantine(both)
                with sp("sinks.append"):
                    append_parquet(official_history(records), b_n)
                    append_parquet(quarantine, f"{quar}/night={n}")
                both.unpersist()
                declared = declared_cargo(read_manifests_raw(spark, xlsx_dir))
                with sp("sources.xlsx_parse"):
                    if traced:
                        declared, extra["a_rows"] = self.materialise(declared)
                with sp("sinks.append"):
                    append_parquet(declared, a_n)
                if traced:
                    declared.unpersist()
                with sp("streaming.fold"):
                    writer(spark.read.parquet(a_n), spark.read.parquet(b_n), n)
                if n % every == 0:
                    with sp("streaming.compact"):
                        compact_knowledge_store(spark, STORE)
                kb = knowledge_store_kb(spark, STORE)
                with sp("streaming.kb_read"):
                    if traced:
                        kb, extra["kb_rows"] = self.materialise(kb)
                with sp("sinks.kb_write"):
                    overwrite_with_backup(kb, kb_path, timestamp=f"night{n:04d}")
                if traced:
                    kb.unpersist()
                return extra

            return body, cfg["night_bytes"][str(n)]

        for step in cfg["plan"]:
            self.run_op(step, *op(step["i"]))
        if self.trace:
            self.state = {
                "rows": committed_vote_state(spark, STORE).count(),
                "bytes": sum(du(votes_dir).values()),
            }
        # the IVM invariant: a full rebuild over the whole history
        from sea_express_customs_etl_spark.plans.knowledge import knowledge_base

        knowledge_base(spark.read.parquet(root_a), spark.read.parquet(root_b)).write.parquet(
            os.path.join(self.out, "kb_full")
        )

    def report(self) -> dict:
        return {
            "session_start_s": self.session_start_s,
            "first_timed": self.first_timed,
            "setup_cpu_s": self.setup_cpu_s,
            "peak_rss_mb": self.peak_rss,
            "ops": self.ops,
            "processes": self.processes(),
            "spans": self.spans.spans,
            "probes": self.probes,
            "state": self.state,
        }


def main() -> int:
    cfg_path = sys.argv[1]
    with open(cfg_path) as f:
        cfg = json.load(f)
    run = Run(cfg)
    try:
        getattr(run, cfg["workload"])()
    finally:
        report = run.report()
        with open(cfg["report"], "w") as f:
            json.dump(report, f)
        run.spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
