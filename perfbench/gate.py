"""Correctness gate, run outside every timed region.

Expected state comes from two oracles that share no code with the Spark
replay path: a last-writer-wins query in DuckDB over the WAL files, and the
repository's pandas reference replay (``cdc.oracle.replay_pandas``) over the
events of a seeded url sample. Table states are compared with each other by
order-independent hash digests.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd

from datax_3_0_0_src_spark.cdc.oracle import replay_pandas

# FIXTURES.md §3: an event is valid iff url and warc_ts are present and a
# non-delete carries a well-formed page wrapper; per url the valid event with
# the greatest (warc_ts, log_offset) wins, and the row is live unless the
# winner is a delete
_LWW_SQL = """
WITH ev AS (
  SELECT * FROM read_parquet('{glob}', hive_partitioning = true)
), valid AS (
  SELECT * FROM ev
  WHERE url IS NOT NULL AND warc_ts IS NOT NULL
    AND (op = 'D' OR (html IS NOT NULL
         AND starts_with(decode(html), '<html>')
         AND ends_with(decode(html), '</body></html>')))
), ranked AS (
  SELECT url, op, lang, row_number() OVER (
    PARTITION BY url ORDER BY warc_ts DESC, log_offset DESC) AS rn
  FROM valid
)
SELECT url, lang FROM ranked WHERE rn = 1 AND op <> 'D'
"""


def read_digest(df) -> tuple[int, int, int]:
    """Consume a full read of a pages DataFrame: (rows, sum of key hashes,
    sum of whole-row hashes). Every column passes through the hash, so no
    column is pruned from the read; sums are order-independent."""
    from pyspark.sql import functions as F

    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("url").cast("decimal(38,0)")).alias("k"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("r"),
    ).collect()[0]
    return int(r["n"]), int(r["k"] or 0), int(r["r"] or 0)


def key_digest(spark, urls) -> tuple[int, int]:
    """(count, sum of key hashes) of a url list, hashed the way
    ``read_digest`` hashes the table's keys."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(pd.DataFrame({"url": pd.Series(urls, dtype=object)}))
    r = df.agg(F.count(F.lit(1)).alias("n"),
               F.sum(F.xxhash64("url").cast("decimal(38,0)")).alias("k")).collect()[0]
    return int(r["n"]), int(r["k"] or 0)


class Oracle:
    def __init__(self, wal_dir: str):
        self._con = duckdb.connect()
        self._con.execute("SET threads = 2")
        self.glob = os.path.join(wal_dir, "*", "*.parquet")
        live = self._con.execute(_LWW_SQL.format(glob=self.glob)).df()
        self.live = live["url"].to_numpy(dtype=object)
        # live rows per lang: the expected state of a group-by-lang MV
        self.lang_counts = {
            (None if is_missing(k) else k): int(v)
            for k, v in live.groupby("lang", dropna=False).size().items()}

    def sample(self, n: int, seed: int) -> list[str]:
        rng = np.random.default_rng(seed)
        idx = rng.choice(len(self.live), size=min(n, len(self.live)), replace=False)
        return sorted(str(self.live[i]) for i in idx)

    def expected_rows(self, urls: list[str]) -> pd.DataFrame:
        """``replay_pandas`` over every event of ``urls`` (valid or not)."""
        self._con.execute("CREATE OR REPLACE TEMP TABLE want(url VARCHAR)")
        self._con.executemany("INSERT INTO want VALUES (?)", [(u,) for u in urls])
        ev = self._con.execute(
            f"SELECT log_offset, epoch, op, url, warc_ts, html, lang "
            f"FROM read_parquet('{self.glob}', hive_partitioning = true) "
            f"WHERE url IN (SELECT url FROM want)").df()
        # DuckDB hands NULL blobs to pandas as NaN; the oracle expects None
        ev["html"] = [None if is_missing(v) else bytes(v) for v in ev["html"]]
        return replay_pandas(ev)

    def close(self) -> None:
        self._con.close()


def rows_equal(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Byte-level comparison of page rows (url, warc_ts, html, text, lang);
    returns a list of differences, empty when identical."""
    cols = ["url", "warc_ts", "html", "text", "lang"]
    g = _canon(got[cols])
    w = _canon(want[cols])
    if len(g) != len(w):
        return [f"row count {len(g)} != expected {len(w)}"]
    diffs = []
    for c in cols:
        bad = [i for i, (a, b) in enumerate(zip(g[c], w[c])) if a != b]
        if bad:
            diffs.append(f"{c} differs for {len(bad)} rows, e.g. url={g['url'][bad[0]]}")
    return diffs


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.sort_values("url").reset_index(drop=True).copy()
    ts = pd.to_datetime(df["warc_ts"], utc=True)
    df["warc_ts"] = ts.dt.tz_convert("UTC").dt.tz_localize(None).astype("datetime64[us]")
    df["html"] = [None if is_missing(v) else bytes(v) for v in df["html"]]
    df["text"] = [None if is_missing(v) else str(v) for v in df["text"]]
    df["lang"] = [None if is_missing(v) else str(v) for v in df["lang"]]
    return df


def is_missing(v) -> bool:
    return v is None or (isinstance(v, float) and np.isnan(v))
