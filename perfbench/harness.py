"""Measurement helpers shared by the workloads: the digest action, result
comparison against DuckDB, latency summaries and process figures."""

from __future__ import annotations

import datetime as _dt
import math
import os
import resource
import statistics
from decimal import Decimal


def digest_df(df):
    """One-row, order-independent digest of every column of ``df``: the row
    count, the sum and the XOR of a 64-bit hash over all columns. Unlike
    ``count()``, the hash consumes every output column, so Catalyst cannot
    prune the work that produces them. The sum runs in DECIMAL(38,0):
    under ANSI mode a BIGINT sum of 64-bit hashes would overflow."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns])
    return df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
        F.bit_xor("h").alias("x"))


def digest(df) -> tuple:
    """Run the digest action; ships one row to Python."""
    row = digest_df(df).collect()[0]
    return (int(row["n"]), str(row["s"]), int(row["x"] or 0))


# -- result comparison (typed, order-insensitive) -----------------------------

_TYPE_TAGS = (
    (bool, "bool"), (int, "int"), (float, "float"), (Decimal, "decimal"),
    (str, "str"), (bytes, "bytes"),
    (_dt.datetime, "datetime"),  # before date: datetime is a date subclass
    (_dt.date, "date"),
)


def _tag(v):
    """(type class, value): an int and a Decimal of equal value differ, as
    they do for the engine's correctness gate; floats compare exactly."""
    if v is None:
        return ("null", None)
    for cls, tag in _TYPE_TAGS:
        if isinstance(v, cls):
            if tag == "float" and math.isnan(v):
                return ("float", "NaN")
            if tag == "datetime" and v.tzinfo is not None:
                v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            return (tag, v)
    return (type(v).__name__, v)


def normalize(rows: list[tuple], cols: list[str]) -> list[tuple]:
    """Rows with columns sorted by name and rows sorted, values tagged."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_tag(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple((x[0], str(x[1])) for x in t))


def duck_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    at = con.sql(sql).arrow()
    vals = [c.to_pylist() for c in at.columns]
    return list(at.schema.names), (list(zip(*vals)) if vals and at.num_rows else [])


def compare(scols, srows, dcols, drows) -> str | None:
    """None when equal, else a short reason."""
    if sorted(scols) != sorted(dcols):
        return f"columns {sorted(scols)} vs {sorted(dcols)}"
    if len(srows) != len(drows):
        return f"rowcount {len(srows)} vs {len(drows)}"
    a, b = normalize(srows, scols), normalize(drows, dcols)
    if a != b:
        diffs = [(x, y) for x, y in zip(a, b) if x != y][:2]
        return f"value mismatch, first diffs: {diffs}"
    return None


# -- summaries ------------------------------------------------------------------

def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def tail(xs: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten
    samples above it -- the (n-10)-th smallest of n -- and the median
    when there are fewer than twenty samples."""
    s = sorted(xs)
    n = len(s)
    if n < 20:
        return 50.0, median(s)
    return 100.0 * (n - 10) / n, s[n - 11]


# -- process figures ------------------------------------------------------------

def process_start_time() -> float:
    """Wall-clock start of this process (epoch seconds), from /proc."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of stat(5), after pid and comm
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh
                     if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory of this Python process plus the JVM, in MiB."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    if jvm_pid:
        try:
            with open(f"/proc/{jvm_pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(root, n))
            except OSError:
                pass
    return total


def git_revision(root: str) -> str:
    """HEAD's commit id read from ``.git`` without running git; 'unknown'
    when the checkout is not a git work tree."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as fh:
            head = fh.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        ref_path = os.path.join(git, ref)
        if os.path.exists(ref_path):
            with open(ref_path) as fh:
                return fh.read().strip()
        with open(os.path.join(git, "packed-refs")) as fh:
            for line in fh:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"
