"""Benchmark inputs: WAL segments written by the engine's own writer,
``cdc.gen.write_event_log``, and cached.

A cache entry is keyed by the seed, the generator configuration, the input
sizes, the writer's core count and a hash of the ``cdc/gen.py`` source, so a
changed generator or a half-written entry (no ``DONE.json``) is generated
again. Entries are built under a temporary name and renamed into place, so a
crash never leaves a partial entry that looks complete. Besides the seed's
inputs there is one small, seed-independent warm-up WAL per workload."""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

from datax_3_0_0_src_spark.cdc import gen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WARMUP_SEED = 0
WARMUP_TIMEOUT_S = 600


@dataclasses.dataclass(frozen=True)
class InputSpec:
    seed: int
    mix: dict                 # EventGenConfig overrides (op mix)
    bulk_events: int
    bulk_epoch_events: int
    tail_epoch_events: int
    tail_epochs: int
    cores: int                # local[cores] of the writer: files per epoch

    def bulk_config(self) -> gen.EventGenConfig:
        return gen.EventGenConfig(
            seed=self.seed, n_events=self.bulk_events,
            events_per_epoch=self.bulk_epoch_events, **self.mix)

    def tail_config(self) -> gen.EventGenConfig:
        """Same event stream, continued past the bulk range in small epochs;
        epoch numbers (offset // tail_epoch_events) follow the bulk's."""
        return gen.EventGenConfig(
            seed=self.seed,
            n_events=self.bulk_events + self.tail_epochs * self.tail_epoch_events,
            events_per_epoch=self.tail_epoch_events, **self.mix)

    def warmup_config(self) -> gen.EventGenConfig:
        """One small epoch for the set-up warm-up, the same for every seed."""
        return gen.EventGenConfig(
            seed=WARMUP_SEED, n_events=self.tail_epoch_events,
            events_per_epoch=self.tail_epoch_events, **self.mix)

    def key(self) -> str:
        return _key({"spec": dataclasses.asdict(self)})

    def warmup_key(self) -> str:
        return _key({"warmup": dataclasses.asdict(self.warmup_config()),
                     "cores": self.cores})


def _key(doc: dict) -> str:
    with open(gen.__file__, "rb") as f:
        doc = {**doc, "gen_py": hashlib.sha256(f.read()).hexdigest()}
    return hashlib.sha256(json.dumps(doc, sort_keys=True).encode()).hexdigest()[:20]


@dataclasses.dataclass
class Inputs:
    bulk_dir: str            # epoch=E/ directories of the bulk backlog
    tail_dir: str            # epoch=E/ directories published one by one
    tail_epochs: list[int]
    gen_s: float             # 0 when the cache already held the entry
    wal_bytes: int


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _epochs(path: str) -> list[int]:
    return sorted(int(d.split("=", 1)[1]) for d in os.listdir(path)
                  if d.startswith("epoch="))


def _cached(entry: str, spec: InputSpec, build) -> bool:
    """Make sure the cache entry ``entry`` is complete, calling
    ``build(tmp_dir)`` to write it when it is not; True if it was built."""
    if os.path.exists(os.path.join(entry, "DONE.json")):
        return False
    shutil.rmtree(entry, ignore_errors=True)
    tmp = f"{entry}.partial-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, "DONE.json"), "w") as f:
        json.dump(dataclasses.asdict(spec), f)
    os.replace(tmp, entry)
    return True


def generate(spark, spec: InputSpec, out_dir: str) -> None:
    """Write both WALs with the engine's own writer,
    ``cdc.gen.write_event_log``, on the session's ``local[cores]`` (its file
    count per epoch follows the range partitions, one per core). The tail is
    the same event stream continued in small epochs: the whole stream is
    written in that epoch size and the epochs the bulk covers are dropped."""
    gen.write_event_log(spark, spec.bulk_config(), os.path.join(out_dir, "bulk"))
    whole = os.path.join(out_dir, "tail-whole")
    gen.write_event_log(spark, spec.tail_config(), whole)
    tail = os.path.join(out_dir, "tail")
    os.makedirs(tail)
    first = spec.bulk_events // spec.tail_epoch_events
    for e in _epochs(whole):
        if e >= first:
            os.rename(os.path.join(whole, f"epoch={e}"), os.path.join(tail, f"epoch={e}"))
    shutil.rmtree(whole)


def ensure(spark, spec: InputSpec, cache_dir: str) -> Inputs:
    """Return the cached inputs for ``spec``, generating them if needed."""
    if spark.sparkContext.defaultParallelism != spec.cores:
        raise ValueError(f"inputs for local[{spec.cores}] asked of a session with "
                         f"{spark.sparkContext.defaultParallelism} cores")
    entry = os.path.join(cache_dir, spec.key())
    t0 = time.perf_counter()
    built = _cached(entry, spec, lambda tmp: generate(spark, spec, tmp))
    gen_s = time.perf_counter() - t0 if built else 0.0
    bulk, tail = os.path.join(entry, "bulk"), os.path.join(entry, "tail")
    return Inputs(bulk_dir=bulk, tail_dir=tail, tail_epochs=_epochs(tail),
                  gen_s=gen_s, wal_bytes=_dir_bytes(bulk) + _dir_bytes(tail))


def ensure_warmup(spec: InputSpec, cache_dir: str, heap_mb: int) -> str:
    """Return the cached warm-up WAL, writing it first if needed. The
    set-up warm-up replays it before the seed's inputs exist, so it is
    written by ``cdc.gen.write_event_log`` in a separate, short-lived Spark
    process: the benchmark's own session then starts equally cold on every
    run. Seed-independent, so a checkout writes it once per workload."""
    entry = os.path.join(cache_dir, f"warmup-{spec.warmup_key()}")
    _cached(entry, spec, lambda tmp: subprocess.run(
        [sys.executable, "-m", "perfbench.inputs", tmp, str(heap_mb),
         json.dumps(dataclasses.asdict(spec))],
        cwd=ROOT, check=True, timeout=WARMUP_TIMEOUT_S, stdout=subprocess.DEVNULL))
    return os.path.join(entry, "wal")


def stage_all(src_root: str, dst_root: str) -> None:
    """Hard-link every cached epoch directory under ``dst_root`` (WAL files
    are immutable once written, so runs can share them)."""
    os.makedirs(dst_root, exist_ok=True)
    for e in _epochs(src_root):
        shutil.copytree(os.path.join(src_root, f"epoch={e}"),
                        os.path.join(dst_root, f"epoch={e}"), copy_function=os.link)


if __name__ == "__main__":
    # python3 -m perfbench.inputs OUT_DIR HEAP_MB SPEC_JSON: write the
    # warm-up WAL under OUT_DIR/wal (see ensure_warmup)
    from datax_3_0_0_src_spark.session import get_spark
    from perfbench.run import stop_spark

    out, heap_mb, doc = sys.argv[1:4]
    spec = InputSpec(**json.loads(doc))
    spark = get_spark(app_name="perfbench-warmup-wal", parallelism=spec.cores,
                      extra_conf={"spark.driver.memory": f"{heap_mb}m"})
    try:
        gen.write_event_log(spark, spec.warmup_config(), os.path.join(out, "wal"))
    finally:
        stop_spark(spark)
