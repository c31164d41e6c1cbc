"""One benchmark run: set up, then three measured phases on one table.

- ``bulk``: one ``Replayer.run()`` over a backlog of rate-capped batches
  through the fused scan -> Arrow extract -> delta write path. Reported as
  events applied per second at the stated input size, at which per-batch
  cost is still a large share (see README.md).
- ``tail``: an open loop. A publisher thread renames small pre-generated WAL
  epochs into the log directory on a fixed schedule that does not slow when
  the engine does; every arrival triggers ``run()`` on the same
  ``Replayer``. Lag is measured from each epoch's scheduled publish time.
  Fresh ``Replayer.run()`` calls on the same log must then commit nothing.
- ``serve``: one closed-loop client on the fragmented MOR table the two
  write phases left: two full reads (the figure is their median), the
  delete-vector fold, a full read. A traced run adds the MV refresh over
  the tail's versions, the bloom build, bloom-pruned point lookups and the
  rewrite fold.

Every replay uses ``THROUGHPUT_PROFILE`` on ``local[nproc]`` with 8
buckets: per-task Python worker start-up makes every bucket cost time in
every phase, and a run has to stay near one minute on 4 cores (see
README.md). Correctness checks run between the timed regions and never
inside them.
"""

from __future__ import annotations

import math
import os
import threading
import time
import traceback
from contextlib import contextmanager
from statistics import median

from datax_3_0_0_src_spark.cdc import fused
from datax_3_0_0_src_spark.cdc.replayer import (
    THROUGHPUT_PROFILE, ReplayConfig, Replayer)
from datax_3_0_0_src_spark.lake import manifest, mv, skipping, table as table_mod
from datax_3_0_0_src_spark.lake.table import LakeTable

from . import gate, inputs, stats
from .trace import SparkProbe, Tracer

NUM_BUCKETS = 8
BULK_EVENTS = 50_000
BULK_EPOCH_EVENTS = 25_000
BULK_BATCH_EVENTS = 25_000      # the rate cap: two batches of 25k
TAIL_EPOCH_EVENTS = 5_000
TAIL_PERIOD_S = 3.5              # well above the ~2 s one warm 5k-event cycle takes on 4 cores
TAIL_MAX_EPOCHS = 4
SETUP_ROUNDS = 3
NOOP_RUNS = 40                   # enough for a tail with ten samples beyond it
LOOKUPS = 4
LOOKUP_KEYS = 10
SAMPLE_URLS = 64
READ_REPEATS = 2                 # timed full reads of the unfolded table
MPB = "spark.sql.files.maxPartitionBytes"

# The op mix is the input property the layers depend on: inserts mint new
# urls, updates and deletes revise earlier ones, and every revision leaves an
# LWW loser for reads and folds to resolve.
WORKLOADS = {
    "default_mix": {},                                   # 70/25/5 I/U/D
    "update_heavy": {"p_insert": 0.2, "p_update": 0.75},  # 20/75/5 I/U/D
}


def input_spec(workload: str, seed: int, cores: int) -> inputs.InputSpec:
    return inputs.InputSpec(
        seed=seed, mix=WORKLOADS[workload],
        bulk_events=BULK_EVENTS, bulk_epoch_events=BULK_EPOCH_EVENTS,
        tail_epoch_events=TAIL_EPOCH_EVENTS, tail_epochs=TAIL_MAX_EPOCHS,
        cores=cores)


class Run:
    def __init__(self, spark, workload: str, seed: int, seconds: int,
                 work_dir: str, tracer: Tracer):
        self.spark = spark
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.work = work_dir
        self.run_dir = os.path.join(work_dir, "runs", tracer.run_id)
        self.tr = tracer
        self.probe = SparkProbe(spark) if tracer.enabled else None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.m: dict[str, float] = {}          # end-to-end metrics
        self.layer: dict[str, float] = {}      # per-layer metrics
        self.info: dict = {}                   # everything else recorded
        self.phase_jobs: dict[str, tuple[int, int]] = {}
        self.mpb_at: dict[str, str] = {}
        self.t0 = time.perf_counter()
        self.info["marks"] = {}

    def mark(self, name: str) -> None:
        self.info["marks"][name] = time.perf_counter() - self.t0

    # ------------------------------------------------------------ helpers
    def op(self, name: str, fn):
        """Run one measured operation; an exception counts as a failed op."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # the run goes on; the op is counted failed
            self.failed += 1
            self.failures.append(f"{name}: {e!r}")
            traceback.print_exc()
            return None

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        """One correctness check; a mismatch counts as a failed op."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"gate {name}: {detail}")

    def timed(self, name: str, fn):
        with self.tr.span(name):
            t0 = time.perf_counter()
            out = fn()
            return out, time.perf_counter() - t0

    @contextmanager
    def phase(self, name: str):
        """A measured phase: a trace span plus, when tracing, its Spark
        job-id range. Records the session's maxPartitionBytes as it starts."""
        self.mpb_at[name] = self.spark.conf.get(MPB)
        first = self.probe.last_job_id() + 1 if self.probe else 0
        with self.tr.phase(name):
            yield
        if self.probe:
            self.phase_jobs[name] = (first, self.probe.last_job_id())

    def replay_config(self, log_dir: str, table_path: str, work: str) -> ReplayConfig:
        return ReplayConfig(
            log_dir=log_dir, table_path=table_path, work_dir=work,
            num_buckets=NUM_BUCKETS,
            **{**THROUGHPUT_PROFILE, "max_events_per_batch": BULK_BATCH_EVENTS})

    # -------------------------------------------------------------- setup
    def setup(self, session_s: float, spec: inputs.InputSpec, cache_dir: str,
              warmup_wal: str) -> None:
        # warm-up: the cycle once on a throwaway table (replay one small
        # epoch, read, DV fold), so that the timed operations run on started
        # Python workers and compiled code, as they do in a long-running
        # service
        t0 = time.perf_counter()
        d = os.path.join(self.run_dir, "warmup")
        inputs.stage_all(warmup_wal, os.path.join(d, "wal"))
        rep = Replayer(self.spark, self.replay_config(
            os.path.join(d, "wal"), os.path.join(d, "table"), os.path.join(d, "work")))
        rep.run()
        gate.read_digest(rep.table.read())
        rep.table.compact(strategy="dv")
        warm_s = time.perf_counter() - t0
        # inputs, from the cache or generated on this session; untimed, and
        # after the warm-up, so the warm-up runs the same either way
        self.inputs = inputs.ensure(self.spark, spec, cache_dir)
        self.info["gen_s"] = self.inputs.gen_s
        self.layer["gen.wal_bytes"] = self.inputs.wal_bytes
        # a set-up round: stage the inputs into a fresh run directory
        rounds = []
        for r in range(SETUP_ROUNDS):
            t0 = time.perf_counter()
            d = os.path.join(self.run_dir, f"stage{r}")
            inputs.stage_all(self.inputs.bulk_dir, os.path.join(d, "wal"))
            inputs.stage_all(self.inputs.tail_dir, os.path.join(d, "outbox"))
            rounds.append(time.perf_counter() - t0)
        self.info["setup_rounds_s"] = rounds
        self.info["warmup_s"] = warm_s
        self.log_dir = os.path.join(d, "wal")
        self.outbox = os.path.join(d, "outbox")
        self.m["setup_s"] = session_s + warm_s + median(rounds)
        self.info["session_s"] = session_s
        self.table_path = os.path.join(self.run_dir, "table")
        self.rcfg = self.replay_config(
            self.log_dir, self.table_path, os.path.join(self.run_dir, "work"))

    # --------------------------------------------------------------- bulk
    def bulk(self) -> None:
        self.mark("setup_done")
        with self.phase("bulk"):
            self.rep = Replayer(self.spark, self.rcfg)
            res, wall = self.timed("bench.bulk_run", self.rep.run)
        applied = sum(r.events_read for r in res)
        self.check("bulk_events_read", applied == BULK_EVENTS,
                   f"{applied} events read, expected {BULK_EVENTS}")
        self.attempted += len(res)
        self.m["apply_events_per_s"] = applied / wall
        self.info["bulk"] = {"events": applied, "wall_s": wall, "batches": len(res),
                             "batch_s": [r.duration_s for r in res]}
        self.layer["fused.events_quarantined"] = sum(r.events_quarantined for r in res)
        self.v_bulk = self.rep.table.snapshot().version

    # --------------------------------------------------------------- tail
    def tail(self) -> None:
        self.mark("bulk_done")
        # at least three epochs, so that the median lag is a sample
        n = min(TAIL_MAX_EPOCHS, max(3, math.ceil(self.seconds / TAIL_PERIOD_S)))
        epochs = self.inputs.tail_epochs[:n]
        index = {e: i for i, e in enumerate(epochs)}
        published = threading.Semaphore(0)
        late: list[float] = [0.0] * n
        t0 = time.perf_counter() + 0.05
        due = [t0 + i * TAIL_PERIOD_S for i in range(n)]
        errors: list[BaseException] = []

        def publish():
            try:
                for i, e in enumerate(epochs):
                    wait = due[i] - time.perf_counter()
                    if wait > 0:
                        time.sleep(wait)
                    os.rename(os.path.join(self.outbox, f"epoch={e}"),
                              os.path.join(self.log_dir, f"epoch={e}"))
                    late[i] = time.perf_counter() - due[i]
                    published.release()
            except BaseException as e:  # surfaced by the consumer below
                errors.append(e)
                published.release()

        done: dict[int, float] = {}
        commits: dict[int, int] = {}
        batch_s: list[float] = []
        pub = threading.Thread(target=publish, name="tail-publisher")
        with self.phase("tail"):
            pub.start()
            try:
                while len(done) < n and not errors:
                    if not published.acquire(timeout=1.0):
                        if pub.is_alive():
                            continue
                    # one run() takes everything published so far
                    while published.acquire(blocking=False):
                        pass
                    res = self.op("tail_run", self.rep.run)
                    t_done = time.perf_counter()
                    for r in res or []:
                        commits[r.epoch] = commits.get(r.epoch, 0) + 1
                        if r.epoch in index:
                            done.setdefault(index[r.epoch], t_done)
                        batch_s.append(r.duration_s)
                    if res is None or (not res and not pub.is_alive()):
                        break
            finally:
                pub.join()
        if errors:
            raise errors[0]
        self.check("tail_exactly_once",
                   all(commits.get(e) == 1 for e in epochs) and set(commits) <= set(epochs),
                   f"commits per epoch {commits}")
        lag = stats.lags(due, done)
        self.m["freshness_lag_p50_s"] = median(lag)
        self.info["tail"] = {"epochs": epochs, "lag_s": lag, "publish_late_s": late,
                             "batch_s": batch_s, "period_s": TAIL_PERIOD_S}
        self.layer["gen.publish_late_s"] = max(late)
        self.layer["replayer.batches"] = len(batch_s)
        self.layer["replayer.batch_s_p50"] = median(batch_s)
        # each tail epoch committed once per the table's own history too
        snaps = [LakeTable.load(self.spark, self.table_path).snapshot(v)
                 for v in range(self.v_bulk + 1, self.rep.table.snapshot().version + 1)]
        per_epoch = {}
        for s in snaps:
            e = int(s.properties.get("last_epoch", -1))
            per_epoch[e] = per_epoch.get(e, 0) + 1
        self.check("tail_commits_in_history", per_epoch == {e: 1 for e in epochs},
                   f"snapshot commits per epoch {per_epoch}")

        # resume: a fresh Replayer over the same log and work dir must
        # find nothing to do and commit nothing
        v0 = self.rep.table.snapshot().version
        noop = []
        self.mark("tail_done")
        with self.phase("resume"):
            for _ in range(NOOP_RUNS):
                res, s = self.timed("bench.resume_noop", lambda: Replayer(
                    self.spark, self.rcfg).run())
                self.attempted += 1
                noop.append(s)
                if res:
                    self.failed += 1
                    self.failures.append(f"resume committed {len(res)} batches")
        self.check("resume_commits_nothing",
                   LakeTable.load(self.spark, self.table_path).snapshot().version == v0,
                   "table version moved on a no-op resume")
        # a no-op resume is ~10 ms of driver-side Python and file reads; it
        # swung 3x between quiet and busy periods of a shared 4-core host, so
        # it is a per-layer figure rather than an end-to-end one
        t = stats.tail(noop)
        self.layer["replayer.resume_noop_s"] = median(noop)
        self.layer["replayer.resume_noop_tail_s"] = t.value
        self.info["resume_noop"] = {"s": noop, "tail_q": t.q, "tail_n": t.n}

    # -------------------------------------------------------------- serve
    def serve(self) -> None:
        self.mark("resume_done")
        oracle = gate.Oracle(self.log_dir)
        try:
            self._serve(oracle)
        finally:
            oracle.close()

    def _serve(self, oracle: gate.Oracle) -> None:
        t = LakeTable.load(self.spark, self.table_path)
        snap = t.snapshot()
        self.layer["lake.read_files"] = len(snap.all_files()) + len(snap.all_deltas())
        self.info["serve_table"] = {"version": snap.version,
                                    "base_files": len(snap.all_files()),
                                    "delta_files": len(snap.all_deltas())}
        digests: dict[str, tuple] = {}
        samples: dict[str, list[float]] = {
            "read_mor": [], "fold_dv": [], "read_dv": [], "read_folded": []}

        def read(name, tbl):
            # a full read: every column of every live row goes through the
            # hash aggregate, whose result is the state's digest
            out, s = self.timed(f"bench.{name}", lambda: self.op(
                name, lambda: gate.read_digest(tbl.read())))
            digests[f"{name}#{len(samples[name])}"] = out
            samples[name].append(s)

        self.mark("serve_start")
        with self.phase("serve"):
            first = self.probe.last_job_id() + 1 if self.probe else 0
            read("read_mor", t)
            if self.probe:
                self.read_mor_jobs = list(range(first, self.probe.last_job_id() + 1))
            for _ in range(READ_REPEATS - 1):
                read("read_mor", t)
            if self.probe:
                self._traced_serve(t, oracle)
            pre_dv = t.snapshot()
            _, s = self.timed("bench.fold_dv", lambda: self.op(
                "fold_dv", lambda: t.compact(strategy="dv")))
            samples["fold_dv"].append(s)
            read("read_dv", t)
            post_dv = t.snapshot()
            if self.probe:
                cfg = self.rcfg
                self.timed("bench.fold_rewrite", lambda: self.op(
                    "fold_rewrite", lambda: t.compact(
                        target_files_per_bucket=cfg.compact_target_files,
                        concurrency=cfg.compact_concurrency,
                        strategy=cfg.compact_strategy)))
                read("read_folded", t)
                self.layer["lake.read_folded_s"] = samples["read_folded"][0]
        self.mark("serve_done")
        for name in ("read_mor", "fold_dv", "read_dv"):
            self.m[f"{name}_s"] = median(samples[name])
        self.info["serve_s"] = samples

        # correctness of everything served, outside the timed regions
        want = gate.key_digest(self.spark, oracle.live)
        got = digests["read_mor#0"]
        self.check("live_keys_match_duckdb_lww",
                   got is not None and got[:2] == want, f"engine {got} vs duckdb {want}")
        for name in sorted(set(digests) - {"read_mor#0"}):
            self.check(f"{name}_keeps_rows", digests[name] == got,
                       f"{digests[name]} vs read_mor {got}")
        # one bucket's rows, a seeded sample of them compared byte for byte
        bucket = self.seed % t.num_buckets
        rows = t.read(buckets=[bucket]).toPandas()
        sample = sorted(rows["url"].sample(
            n=min(SAMPLE_URLS, len(rows)), random_state=self.seed))
        diffs = gate.rows_equal(rows[rows["url"].isin(sample)],
                                oracle.expected_rows(sample))
        self.check("sample_rows_match_pandas_oracle", not diffs, "; ".join(diffs))
        self.mark("checks_done")
        if self.tr.enabled:
            self._fold_layers(t, pre_dv, post_dv)

    def _traced_serve(self, t: LakeTable, oracle: gate.Oracle) -> None:
        """Traced runs only: the change-feed MV refresh over the tail's
        versions, the bloom build and bloom-pruned point lookups, on the
        fragmented table. Read-only for the table's data, so the folds that
        follow see the same state as in an untraced run."""
        # the MV as of the bulk's last version, from the oracle over the
        # bulk backlog alone; the timed refresh brings it up to date
        bulk_oracle = gate.Oracle(self.inputs.bulk_dir)
        mv_base = self.spark.createDataFrame(
            sorted(bulk_oracle.lang_counts.items(), key=str), "lang string, n_rows long")
        bulk_oracle.close()
        rows, s = self.timed("bench.mv_refresh", lambda: self.op(
            "mv_refresh", lambda: mv.refresh_group_agg(
                t, mv_base, self.v_bulk, group_cols=["lang"]).collect()))
        self.layer["mv.refresh_s"] = s
        got_mv = {r["lang"]: int(r["n_rows"]) for r in rows or []}
        self.check("mv_refresh_matches_duckdb", got_mv == oracle.lang_counts,
                   f"refresh {got_mv} vs duckdb {oracle.lang_counts}")
        self.timed("bench.build_blooms", lambda: self.op(
            "build_blooms", t.build_key_blooms))
        live = set(oracle.live.tolist())
        lk, scanned, cand = [], 0, 0
        for i in range(LOOKUPS):
            keys = oracle.sample(LOOKUP_KEYS, self.seed * 1000 + i)
            rows, s = self.timed("bench.lookup", lambda: self.op(
                "lookup", lambda: t.lookup(keys).collect()))
            lk.append(s)
            scanned += t.last_prune.get("scanned_files", 0)
            cand += t.last_prune.get("candidate_files", 0)
            got_keys = sorted(r["url"] for r in rows or [])
            self.check("lookup_rows", got_keys == sorted(k for k in keys if k in live),
                       f"lookup returned {got_keys} for {keys}")
        self.layer["skipping.lookup_p50_s"] = median(lk)
        self.info["lookup_s"] = lk
        self.layer["skipping.lookup_files_read_frac"] = scanned / max(cand, 1)

    # ------------------------------------------------------- layer figures
    def _fold_layers(self, t: LakeTable, pre_dv, post_dv) -> None:
        import pyarrow.parquet as pq

        def rows(rel: str) -> int:
            return pq.ParquetFile(os.path.join(t.path, rel)).metadata.num_rows

        total = sum(rows(f) for f in pre_dv.all_files() + pre_dv.all_deltas())
        losers = sum(rows(f) for f in post_dv.all_dvs())
        self.layer["lake.dv_loser_rows_frac"] = losers / max(total, 1)
        new = set(t.snapshot().all_files()) - set(post_dv.all_files())
        self.layer["lake.compact_bytes_written"] = sum(
            os.path.getsize(os.path.join(t.path, f)) for f in new)
        self.layer["mv.changed_keys"] = (
            t.changes(self.v_bulk, post_dv.version).select("url").distinct().count()
            if self.v_bulk < pre_dv.version else 0)


# ------------------------------------------------------------- tracing
def install_tracing(tr: Tracer) -> None:
    """Wrap the engine's public entry points used by a run (traced runs
    only). Counts are attached to the spans where the work happens."""
    if not tr.enabled:
        return
    R = Replayer
    tr.wrap(R, "run", "replayer.run")
    tr.wrap(R, "plan_batches", "replayer.plan_batches")
    tr.wrap(R, "read_epoch", "replayer.read_epoch")
    tr.wrap(R, "committed_pairs", "replayer.committed_pairs")
    # the replayer imports apply_fused from cdc.fused at call time
    tr.wrap(fused, "apply_fused", "fused.apply_fused")

    def merged(rec, out, args, kwargs):
        rec["new_files"] = out.new_files

    tr.wrap(LakeTable, "merge", "lake.merge", on_result=merged)
    tr.wrap(LakeTable, "read", "lake.read")
    tr.wrap(LakeTable, "changes", "lake.changes")
    tr.wrap(LakeTable, "lookup", "lake.lookup")

    def compacted(rec, out, args, kwargs):
        rec["strategy"] = kwargs.get("strategy", "shuffle")

    tr.wrap(LakeTable, "compact", "lake.compact", on_result=compacted)
    tr.wrap(skipping, "build_blooms", "skipping.build_blooms")
    tr.wrap(mv, "refresh_group_agg", "mv.refresh_group_agg")

    # lake.table binds write_snapshot by name at import; wrap both names
    for owner in (manifest, table_mod):
        tr.wrap(owner, "write_snapshot", "manifest.write_snapshot")


def layer_metrics(run: Run, tr: Tracer, wall_s: float, per_span_s: float) -> dict:
    """Per-layer metrics of a traced run."""
    L = dict(run.layer)
    tot = tr.total
    L["replayer.plan_batches_s"] = tot("replayer.plan_batches", "tail")
    L["replayer.read_epoch_s"] = tot("replayer.read_epoch", "tail")
    L["replayer.committed_pairs_s"] = tot("replayer.committed_pairs", "tail")
    L["replayer.run_s"] = tot("replayer.run", "tail")
    selfs = stats.self_times(tr.spans)
    L["replayer.run_self_s"] = sum(selfs[s["id"]] for s in tr.select("replayer.run", "tail"))
    by_name: dict[str, float] = {}
    for s in tr.spans:
        by_name[s["name"]] = by_name.get(s["name"], 0.0) + selfs[s["id"]]
    run.info["self_s_by_span"] = by_name
    L["fused.apply_fused_s"] = tot("fused.apply_fused", "bulk")
    measured = ("bulk", "tail", "resume", "serve")   # not the warm-up
    L["lake.merge_s"] = tot("lake.merge", *measured)
    L["lake.merge_new_files"] = sum(s.get("new_files", 0)
                                    for s in tr.select("lake.merge", *measured))
    snaps = tr.select("manifest.write_snapshot", *measured)
    L["manifest.write_snapshot_s"] = sum(s["end"] - s["start"] for s in snaps)
    L["manifest.commits"] = sum("error" not in s for s in snaps)
    L["manifest.cas_conflicts"] = sum(s.get("error") == "FileExistsError" for s in snaps)
    meta = os.path.join(run.table_path, "_meta")
    last = max(f for f in os.listdir(meta) if f.startswith("v") and f.endswith(".json"))
    L["manifest.bytes_last"] = os.path.getsize(os.path.join(meta, last))
    # read(): plan-side time inside the call (incl. the DV mask's driver
    # job) vs. execution of the forced read, for the timed reads
    plan = exec_ = 0.0
    by_parent: dict[int, list[dict]] = {}
    for s in tr.spans:
        by_parent.setdefault(s["parent"], []).append(s)
    for name in ("bench.read_mor", "bench.read_dv"):
        for b in tr.select(name, "serve"):
            p = sum(c["end"] - c["start"] for c in _descendants(b, by_parent)
                    if c["name"] == "lake.read")
            plan += p
            exec_ += (b["end"] - b["start"]) - p
    L["lake.read_plan_s"] = plan
    L["lake.read_exec_s"] = exec_
    compacts = tr.select("lake.compact", "serve")
    L["lake.compact_dv_s"] = sum(s["end"] - s["start"] for s in compacts
                                 if s.get("strategy") == "dv")
    L["lake.compact_rewrite_s"] = sum(s["end"] - s["start"] for s in compacts
                                      if s.get("strategy") != "dv")
    L["skipping.build_blooms_s"] = tot("skipping.build_blooms", "serve")
    L["mv.changes_s"] = tot("lake.changes", "serve")
    L["session.max_partition_bytes"] = float(run.mpb_at.get("serve", 0))
    # Spark work per phase, attributed by job-id range
    ranges = [(name, lo, hi) for name, (lo, hi) in run.phase_jobs.items()]
    jobs = stats.attribute_jobs(ranges, run.probe.job_ids())
    for name in ("bulk", "tail", "serve"):
        for k, v in run.probe.stage_metrics(jobs.get(name, [])).items():
            L[f"spark.{name}.{k}"] = v
    py = run.probe.python_metrics(jobs.get("bulk", []))
    L["extract.python_s"] = py["python_s"]
    L["extract.python_init_s"] = py["python_init_s"]
    L["extract.bytes_to_python"] = py["bytes_to_python"]
    L["extract.bytes_from_python"] = py["bytes_from_python"]
    L["lake.read_tasks"] = run.probe.stage_metrics(run.read_mor_jobs)["tasks"]
    L["trace.spans"] = len(tr.spans)
    L["trace.overhead_frac"] = len(tr.spans) * per_span_s / wall_s
    return L


def _descendants(span: dict, by_parent: dict[int, list[dict]]):
    todo = list(by_parent.get(span["id"], []))
    while todo:
        s = todo.pop()
        yield s
        todo.extend(by_parent.get(s["id"], []))
