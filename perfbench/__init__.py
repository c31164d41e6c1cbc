"""CDC ingest benchmark: bulk replay, open-loop small-batch tail, and serving
a fragmented MOR table, measured end to end and traced layer by layer.

Run ``python3 perfbench/run.py --workload default_mix --seed 1 --seconds 10
--trace 0`` from the repository root; see ``perfbench/README.md``.
"""
