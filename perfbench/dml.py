"""The ``table_dml_mv`` workload: a long-lived table store under DML.

A fact table built from ``orders`` (exact integer cents), a ``customer``
dimension and two delta-refreshable materialized views: a single-table
aggregate and a fact x dim aggregate. The seed generates the operation
stream and every batch; a DuckDB mirror receives the same batches and
predicates, and every read, every refreshed view and the table itself are
compared against it. History accumulates over the run, so the growth of
commit, refresh and maintenance cost and of write and space amplification
shows.

One pass, in this mix every time: a MERGE upsert of 800 rows (half of
them new, the others from one data file's key range), a DELETE and an
UPDATE of a key range inside one file each (one of the two
copy-on-write, the other merge-on-read, swapping each pass) and an
append of 800 rows; a DELTA refresh of both views; then, interleaved,
the three ``Engine.sql`` SELECTs the rewriter should answer from a view,
the two it must refuse, two stats-pruned range scans and a time-travel
read; then rewrite_data_files,
expire_snapshots and remove_orphan_files. Set-up runs one such pass,
untimed, so the first timed pass finds the JIT warm.
"""

from __future__ import annotations

import os
import random

from perfbench import harness

FACT, DIM = "db.ord_f", "db.cust_d"
FACT_VIEW, DIM_VIEW = "db_ord_f", "db_cust_d"
FACT_DDL = ("o_orderkey bigint not null, o_custkey bigint not null, "
            "o_orderpriority string not null, cents bigint not null")
COLS = ("o_orderkey", "o_custkey", "o_orderpriority", "cents")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

MVS = {
    "mv_prio": ("SELECT o_orderpriority, SUM(cents) AS total_cents, "
                "COUNT(*) AS cnt FROM {fact} GROUP BY o_orderpriority"),
    "mv_seg": ("SELECT c.c_mktsegment, SUM(f.cents) AS total_cents, "
               "COUNT(*) AS cnt FROM {fact} f JOIN {dim} c "
               "ON f.o_custkey = c.c_custkey GROUP BY c.c_mktsegment"),
}
MV_COLS = {"mv_prio": ("o_orderpriority", "total_cents", "cnt"),
           "mv_seg": ("c_mktsegment", "total_cents", "cnt")}

#: SELECTs the rewriter should answer from a view (run only while both
#: views are fresh) and SELECTs it must refuse
MV_READS = (
    MVS["mv_prio"],
    MVS["mv_seg"],
    # compensated roll-up; the literal has no letters because the rewriter
    # lower-cases string literals in compensating predicates, which makes
    # e.g. IN ('1-URGENT', '2-HIGH') match no backing row
    "SELECT o_orderpriority, SUM(cents) AS total_cents, COUNT(*) AS cnt "
    "FROM {fact} WHERE o_orderpriority < '3' GROUP BY o_orderpriority",
)
REFUSED_READS = (
    "SELECT o_orderpriority, SUM(cents) AS total_cents, COUNT(*) AS cnt "
    "FROM {fact} WHERE o_orderkey < {key} GROUP BY o_orderpriority",
    "SELECT o_orderpriority, MAX(cents) AS max_cents FROM {fact} "
    "GROUP BY o_orderpriority",
)

#: order-independent integer checksum of the fact table, same in both engines
CHECKSUM = ("SELECT COUNT(*) AS n, SUM(o_orderkey) AS k, SUM(o_custkey) AS c, "
            "SUM(cents) AS s, SUM((o_orderkey % 1009) * (cents % 1013)) AS x, "
            "SUM(LENGTH(o_orderpriority) * (o_orderkey % 101)) AS p FROM {t}")

MODES = ("copy-on-write", "merge-on-read")
KEY_ID = "1"  # field id of o_orderkey, whose file bounds place each range
BATCH_ROWS = 800
MAINTENANCE = ("rewrite_data_files", "expire_snapshots", "remove_orphan_files")
RETAIN = 4


def _duck(sql: str) -> str:
    """DuckDB spelling of a check query: its SUM over BIGINT is HUGEINT,
    which must read back as the BIGINT Spark returns."""
    for arg in ("cents", "f.cents", "o_orderkey", "o_custkey",
                "(o_orderkey % 1009) * (cents % 1013)",
                "LENGTH(o_orderpriority) * (o_orderkey % 101)"):
        sql = sql.replace(f"SUM({arg})", f"CAST(SUM({arg}) AS BIGINT)")
    return sql


class DmlWorkload:
    def __init__(self, run, sf: float):
        self.run = run
        self.sf = sf
        self.stage_dir = os.path.join(run.run_dir, "staging")
        self.wh = os.path.join(run.run_dir, "warehouse")
        self.batch_seq = 0
        self.staged_bytes = 0
        self.written_bytes = 0
        self._seen: dict[str, tuple[int, int]] = {}
        self.space_amp: list[float] = []
        self.history: dict[int, str] = {}   # snapshot id -> mirror table
        self.files_read: list[float] = []
        self.refresh_modes: list[bool] = []
        self.rewrite_hits: list[bool] = []
        self._bound = False

    # -- set-up ----------------------------------------------------------------

    def setup(self) -> None:
        import duckdb
        from pyspark.sql import functions as F

        from iceberg_demo_spark.engine import Engine
        from perfbench import datagen

        spark = self.run.spark
        src = os.path.join(self.run.run_dir, "data")
        datagen.write_tables(src, self.sf, self.run.seed, ("customer", "orders"))
        os.makedirs(self.stage_dir, exist_ok=True)
        self.eng = eng = Engine(spark, self.wh)
        orders = spark.read.parquet(f"{src}/orders.parquet").select(
            "o_orderkey", "o_custkey", "o_orderpriority",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"))
        self.t = eng.catalog.create_table(FACT, FACT_DDL)
        self.t.append(orders.repartitionByRange(8, "o_orderkey"))
        eng.catalog.create_table_as(DIM, spark.read.parquet(
            f"{src}/customer.parquet").select("c_custkey", "c_mktsegment"))
        self._bind()
        for name, q in MVS.items():
            eng.sql(f"CREATE MATERIALIZED VIEW {name} AS "
                    + q.format(fact=FACT_VIEW, dim=DIM_VIEW))
        files = self.t.metadata.current_snapshot().files
        self.target_bytes = int(harness.median([f.bytes for f in files]))

        self.con = con = duckdb.connect(config={"threads": 1})
        con.execute(f"CREATE TABLE fact AS SELECT o_orderkey, o_custkey, "
                    f"o_orderpriority, CAST(ROUND(o_totalprice * 100) AS BIGINT) "
                    f"AS cents FROM read_parquet('{src}/orders.parquet')")
        con.execute(f"CREATE TABLE cust AS SELECT c_custkey, c_mktsegment "
                    f"FROM read_parquet('{src}/customer.parquet')")
        self.next_key = con.execute("SELECT MAX(o_orderkey) + 1 FROM fact").fetchone()[0]
        self.n_cust = con.execute("SELECT COUNT(*) FROM cust").fetchone()[0]
        self._remember()
        self.one_pass(-1, timed=False)
        self._track_written()
        self.written_bytes = self.staged_bytes = 0
        self.space_amp.clear()
        self.refresh_modes.clear()
        self.rewrite_hits.clear()

    def _bind(self) -> None:
        """Point the SQL views at the tables' current snapshots; needed
        again only after the fact table changed."""
        if not self._bound:
            self.eng.register(FACT)
            self.eng.register(DIM)
            self._bound = True

    # -- the stream ------------------------------------------------------------

    def one_pass(self, pass_no: int, timed: bool = True) -> None:
        """The same operation mix every pass; the seed draws the batches,
        the key ranges the writes and reads touch."""
        rng = random.Random(f"{self.run.seed}/dml/{pass_no}")
        # each pass runs one copy-on-write and one merge-on-read row-level
        # write; which is which alternates between passes
        cow_first = pass_no % 2 == 0
        modes = {"delete": MODES[not cow_first], "update": MODES[cow_first],
                 "merge": MODES[cow_first]}
        for kind in ("merge", "delete", "update", "append"):
            getattr(self, f"_{kind}")(rng, timed, modes.get(kind))
        for name in MVS:
            self._refresh(name, timed)
        self._reads(rng, timed)
        for proc in MAINTENANCE:
            self._maintain(proc, timed)
        with self.run.checking():
            live = sum(f.bytes for f in self.t.metadata.current_snapshot().files)
            self.space_amp.append(harness.dir_bytes(self.t.location) / live)

    def _reads(self, rng: random.Random, timed: bool) -> None:
        """The three SELECTs the rewriter should answer from a view, the
        two it must refuse, two range scans and a time-travel read."""
        self._range_scan(rng, timed)
        self._select(MV_READS[0], True, rng, timed)
        self._select(REFUSED_READS[0], False, rng, timed)
        self._time_travel(rng, timed)
        self._range_scan(rng, timed)
        self._select(MV_READS[1], True, rng, timed)
        self._select(REFUSED_READS[1], False, rng, timed)
        self._select(MV_READS[2], True, rng, timed)

    def _key_range(self, rng: random.Random, width: int) -> tuple[int, int]:
        """A key range of ``width`` inside one data file's key bounds, so
        every write and scan touches one file whatever the seed."""
        spans = [(int(f.lower[KEY_ID]), int(f.upper[KEY_ID]))
                 for f in self.t.metadata.current_snapshot().files
                 if KEY_ID in f.lower and KEY_ID in f.upper]
        # tiny tables (the tests' scale) may have no file that wide
        wide = sorted(s for s in spans if s[1] - s[0] > width) \
            or [max(spans, key=lambda s: s[1] - s[0])]
        lo, hi = rng.choice(wide)
        start = rng.randint(lo, max(lo, hi - width))
        return start, start + width

    def _write(self, name: str, timed: bool, action, mirror_sql: list[str],
               mode: str | None = None, mode_key: str | None = None) -> None:
        if mode is not None and self.t.write_mode(mode_key) != mode:
            self.t.set_properties({f"write.{mode_key}.mode": mode})
        self._bound = False

        def body(mark):
            snap = action()
            mark()
            for sql in mirror_sql:
                self.con.execute(sql)
            if snap is not None:
                self._remember()
            self._check_table()

        self.run.op("write", name, body, timed)
        with self.run.checking():
            self._track_written()

    def _stage(self, rng: random.Random, keys: list[int]) -> str:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.batch_seq += 1
        path = os.path.join(self.stage_dir, f"batch-{self.batch_seq}.parquet")
        with self.run.checking():
            pq.write_table(pa.table({
                "o_orderkey": pa.array(keys, type=pa.int64()),
                "o_custkey": pa.array([rng.randrange(self.n_cust) for _ in keys],
                                      type=pa.int64()),
                "o_orderpriority": pa.array([rng.choice(PRIORITIES) for _ in keys]),
                "cents": pa.array([rng.randrange(100_000, 50_000_000) for _ in keys],
                                  type=pa.int64()),
            }), path)
        self.staged_bytes += os.path.getsize(path)
        return path

    def _new_keys(self, n: int) -> list[int]:
        keys = list(range(self.next_key, self.next_key + n))
        self.next_key += n
        return keys

    def _merge(self, rng: random.Random, timed: bool, mode: str) -> None:
        n = BATCH_ROWS
        lo, hi = self._key_range(rng, 4 * n)
        with self.run.checking():
            live = [k for (k,) in self.con.execute(
                "SELECT o_orderkey FROM fact WHERE o_orderkey >= ? "
                "AND o_orderkey < ? ORDER BY o_orderkey", [lo, hi]).fetchall()]
        keys = sorted(rng.sample(live, min(n // 2, len(live)))) \
            + self._new_keys(n - n // 2)
        path = self._stage(rng, keys)
        self._write(
            "merge", timed,
            lambda: self.t.merge(
                self.run.spark.read.parquet(path), on="t.o_orderkey = s.o_orderkey",
                matched=[{"condition": None, "action": "update",
                          "set": {c: f"s.{c}" for c in COLS[1:]}}],
                not_matched=[{"condition": None, "values": None}]),
            [f"DELETE FROM fact WHERE o_orderkey IN (SELECT o_orderkey FROM "
             f"read_parquet('{path}'))",
             f"INSERT INTO fact SELECT {', '.join(COLS)} FROM read_parquet('{path}')"],
            mode, "merge")

    def _delete(self, rng: random.Random, timed: bool, mode: str) -> None:
        lo, hi = self._key_range(rng, 1000)
        pred = f"o_orderkey >= {lo} AND o_orderkey < {hi}"
        self._write("delete", timed, lambda: self.t.delete_where(pred),
                    [f"DELETE FROM fact WHERE {pred}"], mode, "delete")

    def _update(self, rng: random.Random, timed: bool, mode: str) -> None:
        lo, hi = self._key_range(rng, 1000)
        pred = f"o_orderkey >= {lo} AND o_orderkey < {hi}"
        d = rng.randint(1, 10_000)
        self._write("update", timed,
                    lambda: self.t.update_where({"cents": f"cents + {d}"}, pred),
                    [f"UPDATE fact SET cents = cents + {d} WHERE {pred}"],
                    mode, "update")

    def _append(self, rng: random.Random, timed: bool, _mode=None) -> None:
        path = self._stage(rng, self._new_keys(BATCH_ROWS))
        self._write("append", timed,
                    lambda: self.t.append(self.run.spark.read.parquet(path)),
                    [f"INSERT INTO fact SELECT {', '.join(COLS)} "
                     f"FROM read_parquet('{path}')"])

    def _refresh(self, name: str, timed: bool) -> None:
        eng = self.eng

        def body(mark):
            eng.sql(f"REFRESH MATERIALIZED VIEW {name} DELTA")
            mark()
            self.refresh_modes.append(eng.mv.last_refresh_mode == "delta")
            cols = MV_COLS[name]
            got = eng.mv.backing_df(eng.mv_catalog.get(name)).select(*cols)
            self._compare(got, _duck(MVS[name].format(fact="fact", dim="cust")))

        self.run.op("refresh", name, body, timed)
        with self.run.checking():
            self._track_written()

    def _select(self, query: str, expect_hit: bool, rng: random.Random,
                timed: bool) -> None:
        key = rng.randrange(self.next_key)
        self._bind()

        def body(mark):
            df = self.eng.sql(query.format(fact=FACT_VIEW, dim=DIM_VIEW, key=key))
            harness.digest(df)
            mark()
            hit = self.eng.last_rewrite is not None
            if expect_hit:
                self.rewrite_hits.append(hit)
            else:
                self.run.check(not hit, "rewriter answered a query it must refuse")
            self._compare(df, _duck(query.format(fact="fact", dim="cust", key=key)))

        self.run.op("read", "select_mv" if expect_hit else "select_refused",
                    body, timed)

    def _range_scan(self, rng: random.Random, timed: bool) -> None:
        lo, hi = self._key_range(rng, 2000)
        pred = f"o_orderkey >= {lo} AND o_orderkey < {hi}"

        def body(mark):
            df = self.t.scan(where=pred)
            harness.digest(df)
            mark()
            if self.run.tracer.recording:
                self.files_read.append(self._files_read_ratio(df))
            self._compare(df, f"SELECT * FROM fact WHERE {pred}")

        self.run.op("read", "range_scan", body, timed)

    def _files_read_ratio(self, df) -> float:
        snap = self.t.metadata.current_snapshot()
        data = {os.path.realpath(os.path.join(self.t.location, f.path))
                for f in snap.files}
        read = {os.path.realpath(p.replace("file://", "", 1))
                for p in df.inputFiles()}
        return len(read & data) / len(data)

    def _time_travel(self, rng: random.Random, timed: bool) -> None:
        cur = self.t.metadata.current_snapshot().snapshot_id
        older = sorted(s for s in self.history if s != cur) or [cur]
        sid = rng.choice(older)

        def body(mark):
            df = self.t.scan(snapshot_id=sid)
            harness.digest(df)
            mark()
            df.createOrReplaceTempView("__tt")
            self._compare(self.run.spark.sql(CHECKSUM.format(t="__tt")),
                          _duck(CHECKSUM.format(t=self.history[sid])))

        self.run.op("read", "time_travel", body, timed)

    def _maintain(self, proc: str, timed: bool) -> None:
        from iceberg_demo_spark.tables import procedures
        from iceberg_demo_spark.tables.format import now_ms

        self._bound = False

        def body(mark):
            fn = getattr(procedures, proc)
            if proc == "rewrite_data_files":
                fn(self.t, target_file_size_bytes=self.target_bytes)
            elif proc == "expire_snapshots":
                fn(self.t, older_than_ms=now_ms(), retain_last=RETAIN)
            else:
                fn(self.t, older_than_ms=now_ms())
            mark()
            self._remember()
            self._check_table()

        self.run.op("maint", proc, body, timed)
        with self.run.checking():
            self._track_written()

    # -- mirror and checks -----------------------------------------------------

    def _remember(self) -> None:
        """Snapshot the mirror under the table's current snapshot id and
        drop mirror copies of snapshots the table no longer keeps."""
        md = self.t.metadata
        cur = md.current_snapshot().snapshot_id
        if cur not in self.history:
            name = f"h_{len(self.history)}_{abs(cur)}"
            self.con.execute(f"CREATE TABLE {name} AS SELECT * FROM fact")
            self.history[cur] = name
        kept = {s.snapshot_id for s in md.snapshots}
        for sid in [s for s in self.history if s not in kept]:
            self.con.execute(f"DROP TABLE {self.history.pop(sid)}")
        while len(self.history) > RETAIN:  # oldest first: dicts keep order
            self.con.execute(f"DROP TABLE {self.history.pop(next(iter(self.history)))}")

    def _compare(self, df, duck_sql: str) -> None:
        scols, srows = df.columns, [tuple(r) for r in df.collect()]
        dcols, drows = harness.duck_rows(self.con, duck_sql)
        diff = harness.compare(scols, srows, dcols, drows)
        self.run.check(diff is None, f"mirror: {diff}")

    def _check_table(self) -> None:
        self.t.scan().createOrReplaceTempView("__cur")
        self._compare(self.run.spark.sql(CHECKSUM.format(t="__cur")),
                      _duck(CHECKSUM.format(t="fact")))

    def _track_written(self) -> None:
        """Add the bytes of files created or rewritten under the warehouse
        since the last call (a file deleted in between is never seen)."""
        for root, _dirs, names in os.walk(self.wh):
            for n in names:
                p = os.path.join(root, n)
                try:
                    st = os.stat(p)
                except OSError:
                    continue
                sig = (st.st_size, st.st_mtime_ns)
                if self._seen.get(p) != sig:
                    self._seen[p] = sig
                    self.written_bytes += st.st_size

    def report(self) -> dict:
        snap = self.t.metadata.current_snapshot()
        return {
            "write_amp": (self.written_bytes / self.staged_bytes
                          if self.staged_bytes else float("nan")),
            "space_amp": harness.median(self.space_amp),
            "tables.bytes_written": self.written_bytes / max(len(self.space_amp), 1),
            "tables.live_files": float(len(snap.files)),
            "tables.manifests": float(len(snap.manifests)),
            "tables.delete_files": float(len(snap.delete_files)),
            "tables.files_read_ratio": harness.median(self.files_read)
            if self.files_read else 0.0,
            "refresh_delta_share": (sum(self.refresh_modes) / len(self.refresh_modes)
                                    if self.refresh_modes else 0.0),
            "mv_read_hit_share": (sum(self.rewrite_hits) / len(self.rewrite_hits)
                                  if self.rewrite_hits else 0.0),
        }
