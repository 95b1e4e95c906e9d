"""The engine facade: SQL entry point with MV DDL, automatic MV rewriting,
CALL procedures, WAP session state, and the table catalog.

This is the product surface (SURVEY.md §7): queries submitted through
``Engine.sql`` get the reference plugins' behaviors (MV rewrite, read-only
enforcement via the Table layer); everything else delegates to Spark SQL
untouched, so the full Spark surface remains available.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_demo_spark.mv.catalog import MVCatalog
from iceberg_demo_spark.mv.manager import MVManager
from iceberg_demo_spark.mv.parser import match_statement, parse_call_args
from iceberg_demo_spark.mv.rewriter import Rewriter, RewriteResult
from iceberg_demo_spark.tables import procedures as proc
from iceberg_demo_spark.tables.catalog import Catalog


class Engine:
    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.catalog = Catalog(spark, warehouse)
        self.mv_catalog = MVCatalog(os.path.join(warehouse, "__mv_catalog.json"))
        self.mv = MVManager(spark, self.catalog, self.mv_catalog)
        self.rewriter = Rewriter(spark, self.mv_catalog, self.mv.backing_df)
        self.mv.rewriter = self.rewriter
        self.last_rewrite: RewriteResult | None = None
        # WAP session state (iceberg_it.py:1352-1365): when set, DML through
        # engine-managed tables goes to this branch instead of main.
        self.wap_branch: str | None = None

    # -- SQL entry point ---------------------------------------------------

    def sql(self, text: str) -> DataFrame:
        self.last_rewrite = None
        m = match_statement(text)
        if m is not None:
            kind, groups = m
            if kind == "create_mv":
                mv = self.mv.create(groups.group(2), groups.group(3),
                                    if_not_exists=bool(groups.group(1)))
                return self._status(f"created materialized view {mv.name}")
            if kind == "drop_mv":
                self.mv.drop(groups.group(2), if_exists=bool(groups.group(1)))
                return self._status(f"dropped materialized view {groups.group(2)}")
            if kind == "refresh_mv":
                mode = (groups.group(2) or "").strip().lower()
                mv = self.mv.refresh(groups.group(1),
                                     incremental=mode == "incremental",
                                     delta=mode == "delta")
                return self._status(f"refreshed materialized view {mv.name}")
            if kind == "show_mv":
                return self.mv.show()
            if kind == "call":
                return self._call(groups.group(1), groups.group(2))
        ddl = self._try_sql_ddl(text)
        if ddl is not None:
            return ddl
        dml = self._try_sql_dml(text)
        if dml is not None:
            return dml
        text = self._rewrite_time_travel(text)
        res = self.rewriter.try_rewrite(text)
        if res is not None:
            self.last_rewrite = res
            return res.df
        # plain SELECT: resolve catalog tables the way the reference's
        # Spark-registered catalog does (`SELECT … FROM db.t` just works,
        # docs/spark-queries.md:21-35) — dotted refs that name an engine
        # table bind to temp views; everything else passes through.
        return self.spark.sql(self._bind_catalog_refs(text))

    def _describe_view(self, name: str, extended: bool) -> "DataFrame":
        """DESCRIBE [EXTENDED] <view> (docs/spark-ddl.md:682-687) with
        Spark's documented 3-column shape; EXTENDED appends the
        '# Detailed View Information' section."""
        v = self.catalog.views[name]
        df = self.catalog.view_df(name)
        alias_comments = {a: c for a, c in v.get("column_aliases") or [] if c}
        rows = [(f.name, f.dataType.simpleString(),
                 alias_comments.get(f.name, "")) for f in df.schema.fields]
        if extended:
            rows.append(("", "", ""))
            rows.append(("# Detailed View Information", "", ""))
            rows.append(("Name", name, ""))
            if v.get("comment"):
                rows.append(("Comment", v["comment"], ""))
            rows.append(("View Text", v["sql"], ""))
            rows.append(("View Properties",
                         ", ".join(f"{k}={val}" for k, val
                                   in sorted(v["properties"].items())), ""))
        return self.spark.createDataFrame(
            rows, "col_name string, data_type string, comment string")

    # -- SQL DDL over catalog tables (iceberg_it.py:267-860 surface) --------

    @staticmethod
    def _parse_partition_spec(spec: str) -> list[tuple]:
        """'days(ts), bucket(16, id), category, truncate(4, s)' → the
        catalog's (source, transform) tuples (docs/spark-ddl.md:74-85)."""
        from iceberg_demo_spark.mv.parser import _split_top_level

        out = []
        for part in _split_top_level(spec, ","):
            m = re.fullmatch(r"(years?|months?|days?|hours?)\s*\(\s*(\w+)\s*\)",
                             part.strip(), re.IGNORECASE)
            if m:
                base = m.group(1).lower().rstrip("s")
                out.append((m.group(2), base + "s" if base != "identity" else base))
                continue
            m = re.fullmatch(r"(bucket|truncate)\s*\(\s*(\d+)\s*,\s*(\w+)\s*\)",
                             part.strip(), re.IGNORECASE)
            if m:
                out.append((m.group(3), f"{m.group(1).lower()}[{m.group(2)}]"))
                continue
            out.append((part.strip(),))
        return out

    @staticmethod
    def _parse_props(body: str) -> dict[str, str]:
        return {
            k: v for k, v in re.findall(r"'([^']+)'\s*=\s*'([^']*)'", body)
        }

    @staticmethod
    def _balanced_slice(s: str, open_idx: int) -> tuple[str, str]:
        """``s[open_idx] == '('`` → (content inside the matching parens,
        remainder after the close)."""
        depth = 0
        for i in range(open_idx, len(s)):
            if s[i] == "(":
                depth += 1
            elif s[i] == ")":
                depth -= 1
                if depth == 0:
                    return s[open_idx + 1:i], s[i + 1:]
        raise ValueError("unbalanced parentheses in DDL")

    def _try_sql_ddl(self, text: str) -> DataFrame | None:
        """CREATE/DROP TABLE, the ALTER TABLE matrix (properties, columns,
        branches/tags, identifier fields), RENAME — routed to the catalog /
        table APIs. Returns None for statements this engine doesn't own."""
        s = text.strip().rstrip(";")
        m = re.match(r"(?is)^create\s+table\s+(if\s+not\s+exists\s+)?([\w.]+)\s*\(", s)
        if m:
            cols, rest = self._balanced_slice(s, m.end() - 1)
            um = re.match(r"(?is)^\s*using\s+\w+", rest)
            if um:
                rest = rest[um.end():]
            partition_by = props = None
            pm = re.match(r"(?is)^\s*partitioned\s+by\s*\(", rest)
            if pm:
                spec, rest = self._balanced_slice(rest, pm.end() - 1)
                partition_by = self._parse_partition_spec(spec)
            tm = re.match(r"(?is)^\s*tblproperties\s*\(", rest)
            if tm:
                body, rest = self._balanced_slice(rest, tm.end() - 1)
                props = self._parse_props(body)
            if rest.strip():
                return None  # unrecognized tail (LOCATION etc.) → Spark
            # column COMMENTs aren't part of the struct DDL grammar — strip
            # for parsing, re-attach after create
            comments = dict(re.findall(r"(?is)(\w+)\s+[\w()<>,\s]+?comment\s+'([^']*)'", cols))
            cols = re.sub(r"(?is)\s+comment\s+'[^']*'", "", cols)
            t = self.catalog.create_table(
                m.group(2), cols, partition_by=partition_by,
                properties=props, if_not_exists=bool(m.group(1)))
            for col, comment in comments.items():
                try:
                    t.metadata.field_by_name(col).comment = comment
                except KeyError:
                    pass
            if comments:
                t.metadata.save()
            return self._status(f"created table {m.group(2)}")
        m = re.match(
            r"(?is)^(?:create(\s+or\s+replace)?|(replace))\s+table\s+"
            r"(if\s+not\s+exists\s+)?([\w.]+)\s*(.*?)\s*as\s+(select\b.+)$", s)
        if m:
            return self._ctas(or_replace=bool(m.group(1)),
                              replace_only=bool(m.group(2)),
                              if_not_exists=bool(m.group(3)),
                              name=m.group(4), options=m.group(5),
                              select=m.group(6))
        m = re.match(
            r"(?is)^alter\s+view\s+([\w.]+)\s+set\s+tblproperties\s*\(", s)
        if m and m.group(1) in self.catalog.views:
            body, rest = self._balanced_slice(s, m.end() - 1)
            if rest.strip():
                return None
            self.catalog.alter_view_properties(
                m.group(1), set_=self._parse_props(body))
            return self._status(f"altered view {m.group(1)}")
        m = re.match(
            r"(?is)^alter\s+view\s+([\w.]+)\s+unset\s+tblproperties\s*\(", s)
        if m and m.group(1) in self.catalog.views:
            body, rest = self._balanced_slice(s, m.end() - 1)
            if rest.strip():
                return None
            self.catalog.alter_view_properties(
                m.group(1), unset=re.findall(r"'([^']+)'", body))
            return self._status(f"altered view {m.group(1)}")
        m = re.match(
            r"(?is)^create\s+(or\s+replace\s+)?view\s+(if\s+not\s+exists\s+)?"
            r"([\w.]+)\s+(?:comment\s+'([^']*)'\s+)?as\s+(select\s+.+)$", s)
        if m:
            self.catalog.create_view(
                m.group(3), m.group(5), or_replace=bool(m.group(1)),
                if_not_exists=bool(m.group(2)), comment=m.group(4))
            return self._status(f"created view {m.group(3)}")
        m = re.match(r"(?is)^drop\s+view\s+(if\s+exists\s+)?([\w.]+)$", s)
        if m and (m.group(1) or m.group(2) in self.catalog.views):
            self.catalog.drop_view(m.group(2), if_exists=bool(m.group(1)))
            return self._status(f"dropped view {m.group(2)}")
        m = re.match(r"(?is)^show\s+tables(?:\s+in\s+([\w.]+))?$", s)
        if m:
            rows = [(n.rsplit(".", 1)[0] if "." in n else "", n.rsplit(".", 1)[-1])
                    for n in self.catalog.list_tables(m.group(1))]
            return self.spark.createDataFrame(
                rows or [("", "")], "namespace string, tableName string"
            ).filter("tableName != ''")
        m = re.match(r"(?is)^show\s+views(?:\s+in\s+([\w.]+))?$", s)
        if m:
            # Spark's documented output columns (sql-ref-syntax-aux-show-
            # views; docs/spark-ddl.md:655-670): namespace / viewName /
            # isTemporary. Engine views are persistent (never temp).
            ns = m.group(1)
            rows = []
            for v in self.catalog.list_views():
                v_ns, _, v_name = v.rpartition(".")
                if ns is None or v_ns == ns or v == ns:
                    rows.append((v_ns, v_name, False))
            return self.spark.createDataFrame(
                rows or [("", "", False)],
                "namespace string, viewName string, isTemporary boolean"
            ).filter("viewName != ''")
        m = re.match(r"(?is)^show\s+tblproperties\s+([\w.]+)"
                     r"(?:\s*\(\s*'([^']+)'\s*\))?$", s)
        if m:
            name, key = m.group(1), m.group(2)
            props = None
            if self.catalog.table_exists(name):
                props = self.catalog.load_table(name).properties
            elif name in self.catalog.views:
                props = self.catalog.views[name]["properties"]
            if props is not None:
                if key is not None:
                    items = [(key, props.get(
                        key, f"Table {name} does not have property: {key}"))]
                else:
                    items = sorted(props.items())
                return self.spark.createDataFrame(
                    items or [("", "")], "key string, value string"
                ).filter("key != ''")
        m = re.match(r"(?is)^show\s+create\s+table\s+([\w.]+)$", s)
        if m and self.catalog.table_exists(m.group(1)):
            return self.spark.createDataFrame(
                [(self.catalog.show_create_table(m.group(1)),)],
                "createtab_stmt string")
        if m and m.group(1) in self.catalog.views:
            # docs/spark-ddl.md:674-679: SHOW CREATE TABLE works on views
            v = self.catalog.views[m.group(1)]
            text = f"CREATE VIEW {m.group(1)}"
            if v.get("comment"):
                text += f"\nCOMMENT '{v['comment']}'"
            if v["properties"]:
                props = ",\n  ".join(f"'{k}' = '{val}'"
                                     for k, val in sorted(v["properties"].items()))
                text += f"\nTBLPROPERTIES (\n  {props})"
            text += f"\nAS {v['sql']}"
            return self.spark.createDataFrame(
                [(text,)], "createtab_stmt string")
        m = re.match(r"(?is)^describe\s+(?:table\s+)?(extended\s+)?([\w.]+)$", s)
        if m and self.catalog.table_exists(m.group(2)):
            if m.group(1):
                return self.catalog.describe_extended(m.group(2))
            t = self.catalog.load_table(m.group(2))
            return self.spark.createDataFrame(
                [(f.name, f.type, f.comment or "") for f in t.metadata.schema],
                "col_name string, data_type string, comment string")
        if m and m.group(2) in self.catalog.views:
            return self._describe_view(m.group(2), extended=bool(m.group(1)))
        m = re.match(r"(?is)^drop\s+table\s+(if\s+exists\s+)?([\w.]+)(\s+purge)?$", s)
        if m:
            self.catalog.drop_table(m.group(2), purge=bool(m.group(3)),
                                    if_exists=bool(m.group(1)))
            return self._status(f"dropped table {m.group(2)}")
        m = re.match(r"(?is)^create\s+(?:database|namespace|schema)\s+"
                     r"(if\s+not\s+exists\s+)?([\w.]+)$", s)
        if m:
            self.catalog.create_database(m.group(2),
                                         if_not_exists=bool(m.group(1)))
            return self._status(f"created database {m.group(2)}")
        m = re.match(r"(?is)^drop\s+(?:database|namespace|schema)\s+"
                     r"(if\s+exists\s+)?([\w.]+)(\s+cascade)?(\s+purge)?$", s)
        if m:
            dropped = self.catalog.drop_database(
                m.group(2), cascade=bool(m.group(3)),
                purge=bool(m.group(4)), if_exists=bool(m.group(1)))
            if dropped is None:
                return self._status(f"database {m.group(2)} absent")
            return self._status(f"dropped database {m.group(2)}")
        if re.match(r"(?is)^show\s+(?:databases|namespaces)$", s):
            return self.spark.createDataFrame(
                [(d,) for d in self.catalog.list_databases()] or [("",)],
                "namespace string").filter("namespace != ''")
        m = re.match(r"(?is)^alter\s+table\s+([\w.]+)\s+(.+)$", s)
        if m and self.catalog.table_exists(m.group(1)):
            return self._alter_table(m.group(1), m.group(2).strip())
        return None

    def _ctas(self, or_replace: bool, replace_only: bool, if_not_exists: bool,
              name: str, options: str, select: str) -> DataFrame | None:
        """CREATE [OR REPLACE] / REPLACE TABLE … [USING …] [PARTITIONED BY …]
        [TBLPROPERTIES …] AS SELECT — the reference's SQL-driven CTAS/RTAS
        (iceberg_it.py:298-333; props-merge semantics docs/spark-ddl.md:107-132)
        routed onto catalog.create_table_as / replace_table_as."""
        partition_by = props = None
        rest = options
        um = re.match(r"(?is)^\s*using\s+\w+", rest)
        if um:
            rest = rest[um.end():]
        pm = re.match(r"(?is)^\s*partitioned\s+by\s*\(", rest)
        if pm:
            spec, rest = self._balanced_slice(rest, pm.end() - 1)
            partition_by = self._parse_partition_spec(spec)
        tm = re.match(r"(?is)^\s*tblproperties\s*\(", rest)
        if tm:
            body, rest = self._balanced_slice(rest, tm.end() - 1)
            props = self._parse_props(body)
        if rest.strip():
            return None  # unrecognized tail (LOCATION etc.) → Spark
        df = self.sql(self._bind_catalog_refs(select))
        if or_replace or replace_only:
            if partition_by and self.catalog.table_exists(name):
                raise ValueError(
                    "REPLACE TABLE … PARTITIONED BY over an existing table "
                    "is not supported — drop and recreate instead")
            if not self.catalog.table_exists(name):
                if not or_replace:
                    from iceberg_demo_spark.tables.catalog import (
                        NoSuchTableError)

                    raise NoSuchTableError(name)
                # CREATE half of CREATE OR REPLACE: a fresh table must keep
                # its PARTITIONED BY spec (replace_table_as has no
                # partition_by parameter — replacement preserves the spec)
                t = self.catalog.create_table_as(
                    name, df, partition_by=partition_by, properties=props)
                return self._status(f"created table {t.name} as select")
            t = self.catalog.replace_table_as(
                name, df, properties=props, create_if_missing=or_replace)
            return self._status(f"replaced table {t.name}")
        if self.catalog.table_exists(name):
            if if_not_exists:
                return self._status(f"table {name} already exists — skipped")
            from iceberg_demo_spark.tables.catalog import TableAlreadyExistsError

            raise TableAlreadyExistsError(name)
        t = self.catalog.create_table_as(
            name, df, partition_by=partition_by, properties=props)
        return self._status(f"created table {t.name} as select")

    def _alter_table(self, name: str, action: str) -> DataFrame | None:
        from iceberg_demo_spark.mv.parser import _split_top_level

        t = self.catalog.load_table(name)
        ok = self._status(f"altered {name}")
        m = re.match(r"(?is)^set\s+tblproperties\s*\((.*)\)$", action)
        if m:
            t.set_properties(self._parse_props(m.group(1)))
            return ok
        m = re.match(r"(?is)^unset\s+tblproperties\s*\((.*)\)$", action)
        if m:
            t.unset_properties(re.findall(r"'([^']+)'", m.group(1)))
            return ok
        m = re.match(r"(?is)^add\s+columns?\s*\((.*)\)$", action)
        if m:
            for part in _split_top_level(m.group(1), ","):
                cm = re.match(r"(?is)^\s*([\w.]+)\s+([\w()<>,\s]+?)"
                              r"(?:\s+comment\s+'([^']*)')?\s*$", part)
                t.add_column(cm.group(1), cm.group(2).strip(),
                             comment=cm.group(3))
            return ok
        m = re.match(r"(?is)^drop\s+columns?\s+([\w.]+)$", action)
        if m:
            t.drop_column(m.group(1))
            return ok
        m = re.match(r"(?is)^rename\s+column\s+([\w.]+)\s+to\s+(\w+)$", action)
        if m:
            t.rename_column(m.group(1), m.group(2))
            return ok
        m = re.match(r"(?is)^alter\s+column\s+([\w.]+)\s+type\s+([\w()<>,]+)$", action)
        if m:
            t.alter_column_type(m.group(1), m.group(2))
            return ok
        m = re.match(r"(?is)^alter\s+column\s+([\w.]+)\s+drop\s+not\s+null$", action)
        if m:
            t.alter_column_nullable(m.group(1), True)
            return ok
        m = re.match(r"(?is)^alter\s+column\s+([\w.]+)\s+comment\s+'([^']*)'$", action)
        if m:
            t.alter_column_comment(m.group(1), m.group(2))
            return ok
        m = re.match(r"(?is)^rename\s+to\s+([\w.]+)$", action)
        if m:
            self.catalog.rename_table(name, m.group(1))
            return ok
        m = re.match(
            r"(?is)^create\s+(branch|tag)\s+(?:(if\s+not\s+exists)\s+)?(\w+)"
            r"(?:\s+as\s+of\s+version\s+(\d+))?(?:\s+retain\s+(\d+)\s+days)?$",
            action)
        if m:
            kw = {"snapshot_id": int(m.group(4)) if m.group(4) else None,
                  "if_not_exists": bool(m.group(2)),
                  "retain_days": float(m.group(5)) if m.group(5) else None}
            (t.create_branch if m.group(1).lower() == "branch" else t.create_tag)(
                m.group(3), **kw)
            return ok
        m = re.match(r"(?is)^drop\s+(?:branch|tag)\s+(?:(if\s+exists)\s+)?(\w+)$",
                     action)
        if m:
            t.drop_ref(m.group(2), if_exists=bool(m.group(1)))
            return ok
        m = re.match(r"(?is)^add\s+partition\s+field\s+(.+)$", action)
        if m:
            spec = self._parse_partition_spec(m.group(1))[0]
            t.add_partition_field(spec[0], spec[1] if len(spec) > 1 else "identity")
            return ok
        m = re.match(r"(?is)^drop\s+partition\s+field\s+(\w+)$", action)
        if m:
            t.drop_partition_field(m.group(1))
            return ok
        m = re.match(r"(?is)^set\s+identifier\s+fields\s+(.+)$", action)
        if m:
            t.set_identifier_fields(*[c.strip() for c in m.group(1).split(",")])
            return ok
        m = re.match(r"(?is)^drop\s+identifier\s+fields\s+(.+)$", action)
        if m:
            t.drop_identifier_fields(*[c.strip() for c in m.group(1).split(",")])
            return ok
        return None  # unowned ALTER form → fall through to Spark

    # -- SQL DML over catalog tables (iceberg_it.py:1267-1349 surface) ------

    _INSERT_RE = re.compile(
        r"^\s*insert\s+(into|overwrite)\s+(?:table\s+)?([\w.]+)\s+(values\s*\(.+|select\s+.+)$",
        re.IGNORECASE | re.DOTALL,
    )
    _DELETE_RE = re.compile(
        r"^\s*delete\s+from\s+([\w.]+)(?:\s+(?:as\s+)?(?!where\b)(\w+))?"
        r"(?:\s+where\s+(.+))?\s*$",
        re.IGNORECASE | re.DOTALL,
    )
    _UPDATE_RE = re.compile(
        r"^\s*update\s+([\w.]+)(?:\s+(?:as\s+)?(?!set\b)(\w+))?"
        r"\s+set\s+(.+?)(?:\s+where\s+(.+))?\s*$",
        re.IGNORECASE | re.DOTALL,
    )

    _MERGE_HEAD_RE = re.compile(
        r"^\s*merge\s+into\s+([\w.]+)(?:\s+(?:as\s+)?(\w+))?\s+using\s+(.+)$",
        re.IGNORECASE | re.DOTALL,
    )

    def _try_sql_merge(self, s: str) -> DataFrame | None:
        """MERGE INTO <t> [alias] USING <src>|(<subquery>) [alias] ON <cond>
        WHEN ... — the reference's four variants (iceberg_it.py:1286-1500):
        multiple first-match-wins MATCHED clauses with AND conditions,
        MATCHED DELETE, NOT MATCHED [AND] INSERT (cols) VALUES / INSERT *,
        NOT MATCHED BY SOURCE UPDATE/DELETE. Arbitrary aliases normalize to
        the engine's t/s."""
        from iceberg_demo_spark.mv.parser import _split_top_level

        m = self._MERGE_HEAD_RE.match(s)
        if m is None or not self.catalog.table_exists(m.group(1)):
            return None
        t = self.catalog.load_table(m.group(1))
        t_alias = m.group(2) or "t"
        rest = m.group(3).strip()
        # split USING part from ON at top level (subqueries may nest ONs)
        using_on = _split_top_level(rest, " on ")
        if len(using_on) < 2:
            raise ValueError("MERGE: missing ON condition")
        using_part = using_on[0].strip()
        after_on = " on ".join(using_on[1:])
        when_split = re.split(r"(?i)\bwhen\b", after_on)
        on_cond = when_split[0].strip()
        clauses_text = ["when " + c.strip() for c in when_split[1:]]
        um = re.match(r"^(\((?:.|\n)*\)|[\w.]+)(?:\s+(?:as\s+)?(\w+))?$",
                      using_part, re.DOTALL | re.IGNORECASE)
        if um is None:
            raise ValueError(f"MERGE: cannot parse USING: {using_part}")
        src_ref, s_alias = um.group(1), um.group(2) or "s"
        if src_ref.startswith("("):
            source = self.sql(src_ref[1:-1])
        elif self.catalog.table_exists(src_ref):
            source = self.catalog.load_table(src_ref).scan()
        else:
            source = self.spark.table(src_ref)

        if t_alias.lower() == s_alias.lower():
            raise ValueError(
                f"MERGE: target and source share alias {t_alias!r}")
        # Single-pass alternation: sequential re.sub passes would rewrite the
        # first pass's output when the user's aliases are the engine's own
        # t/s swapped (MERGE INTO tgt s USING src t).
        alias_map = {t_alias.lower(): "t.", s_alias.lower(): "s."}
        alias_re = re.compile(
            rf"\b({re.escape(t_alias)}|{re.escape(s_alias)})\.",
            re.IGNORECASE)

        def norm(expr: str | None) -> str | None:
            if expr is None:
                return None
            return alias_re.sub(
                lambda m: alias_map[m.group(1).lower()], expr)

        matched, not_matched, nmbs = [], [], []
        for cl in clauses_text:
            cm = re.match(
                r"(?is)^when\s+matched(?:\s+and\s+(.+?))?\s+then\s+"
                r"(?:delete|update\s+set\s+(.+))$", cl.strip())
            if cm:
                if cm.group(2) is None:
                    matched.append({"condition": norm(cm.group(1)), "action": "delete"})
                else:
                    sets = {}
                    for part in _split_top_level(cm.group(2), ","):
                        col, _eq, expr = part.partition("=")
                        col = col.strip()
                        col = col.split(".")[-1]  # t.col = … → col
                        sets[col] = norm(expr.strip())
                    matched.append({"condition": norm(cm.group(1)),
                                    "action": "update", "set": sets})
                continue
            cm = re.match(
                r"(?is)^when\s+not\s+matched\s+by\s+source(?:\s+and\s+(.+?))?"
                r"\s+then\s+(?:delete|update\s+set\s+(.+))$", cl.strip())
            if cm:
                if cm.group(2) is None:
                    nmbs.append({"condition": norm(cm.group(1)), "action": "delete"})
                else:
                    sets = {}
                    for part in _split_top_level(cm.group(2), ","):
                        col, _eq, expr = part.partition("=")
                        sets[col.strip().split(".")[-1]] = norm(expr.strip())
                    nmbs.append({"condition": norm(cm.group(1)),
                                 "action": "update", "set": sets})
                continue
            cm = re.match(
                r"(?is)^when\s+not\s+matched(?:\s+and\s+(.+?))?\s+then\s+insert"
                r"\s*(?:\*|\(([^)]*)\)\s*values\s*\((.+)\))$", cl.strip())
            if cm:
                if cm.group(2) is None:
                    not_matched.append({"condition": norm(cm.group(1)), "values": None})
                else:
                    cols = [c.strip() for c in cm.group(2).split(",")]
                    vals = [norm(v.strip()) for v in _split_top_level(cm.group(3), ",")]
                    not_matched.append({"condition": norm(cm.group(1)),
                                        "values": dict(zip(cols, vals))})
                continue
            raise ValueError(f"MERGE: cannot parse clause: {cl[:80]}")
        t.merge(source, on=norm(on_cond), matched=matched,
                not_matched=not_matched, not_matched_by_source=nmbs,
                branch=self.write_branch(t))
        return self._status(f"merged into {t.name}")

    def _try_sql_dml(self, text: str) -> DataFrame | None:
        """INSERT INTO/OVERWRITE … VALUES|SELECT, DELETE FROM … WHERE,
        UPDATE … SET … WHERE against catalog tables route to the Table API
        (WAP-branch aware); everything else returns None and flows on to
        plain Spark SQL."""
        s = text.strip().rstrip(";")
        if re.match(r"^\s*merge\s+into\b", s, re.IGNORECASE):
            return self._try_sql_merge(s)
        m = self._INSERT_RE.match(s)
        if m is not None and self.catalog.table_exists(m.group(2)):
            t = self.catalog.load_table(m.group(2))
            body = m.group(3)
            if body.lower().startswith("values"):
                df = self.spark.sql(f"SELECT * FROM {body}")
            else:
                df = self.sql(body)  # nested SELECT gets MV rewrite etc.
            # SQL INSERT binds columns POSITIONALLY (not by name — a select
            # item like `id + 100` must land in the first table column)
            df = df.toDF(*[f.name for f in t.metadata.schema][: len(df.columns)])
            branch = self.write_branch(t)
            if m.group(1).lower() == "into":
                t.append(df, branch=branch)
                return self._status(f"inserted into {t.name}")
            mode = self.spark.conf.get(
                "spark.sql.sources.partitionOverwriteMode", "static").lower()
            if mode == "dynamic" and t.metadata.partition_spec:
                t.overwrite_dynamic(df, branch=branch)
            else:
                t.overwrite_all(df, branch=branch)
            return self._status(f"overwrote {t.name}")
        m = self._DELETE_RE.match(s)
        if m is not None and self.catalog.table_exists(m.group(1)):
            t = self.catalog.load_table(m.group(1))
            branch = self.write_branch(t)
            kind, payload = self._dml_where(t, m.group(3), m.group(2))
            if kind == "plain":
                t.delete_where(payload or "true", branch=branch)
            else:
                source, on, extra = payload
                t.merge(source, on=on,
                        matched=[{"condition": extra, "action": "delete"}],
                        branch=branch, check_cardinality=False)
            return self._status(f"deleted from {t.name}")
        m = self._UPDATE_RE.match(s)
        if m is not None and self.catalog.table_exists(m.group(1)):
            from iceberg_demo_spark.mv.parser import _split_top_level

            t = self.catalog.load_table(m.group(1))
            t_alias = m.group(2)
            assignments = {}
            for part in _split_top_level(m.group(3), ","):
                col, _eq, expr = part.partition("=")
                assignments[col.strip().split(".")[-1]] = expr.strip()
            branch = self.write_branch(t)
            kind, payload = self._dml_where(t, m.group(4), t_alias)
            if kind == "plain":
                t.update_where(
                    {c: self._dealias(e, t_alias)
                     for c, e in assignments.items()},
                    payload, branch=branch)
            else:
                source, on, extra = payload
                tcols = {f.name for f in t.metadata.schema}
                sets = {c: self._qualify(e, t_alias, None, tcols, set())
                        for c, e in assignments.items()}
                t.merge(source, on=on,
                        matched=[{"condition": extra, "action": "update",
                                  "set": sets}],
                        branch=branch, check_cardinality=False)
            return self._status(f"updated {t.name}")
        return None

    _EXISTS_RE = re.compile(r"(?is)^\s*exists\s*\(\s*(select\b.+)\)\s*$")
    _IN_SUBQ_RE = re.compile(
        r"(?is)^\s*([\w.]+)\s+in\s*\(\s*(select\b.+)\)\s*$")
    _SUBQ_SELECT_RE = re.compile(
        r"(?is)^\s*select\s+.+?\s+from\s+([\w.]+)(?:\s+(?:as\s+)?(\w+))?"
        r"(?:\s+where\s+(.+))?\s*$")
    _SCALAR_SUBQ_RE = re.compile(
        r"(?is)\(\s*(select\b[^()]*(?:\([^()]*\)[^()]*)*)\)")

    _SQL_KEYWORDS = frozenset(
        "and or not in is null true false between like exists select from "
        "where case when then else end cast as distinct interval date "
        "timestamp".split())

    def _qualify(self, expr: str, t_alias: str | None, s_alias: str | None,
                 t_cols: set[str], s_cols: set[str]) -> str:
        """Rewrite alias-qualified refs to the engine's t./s. and qualify
        bare column identifiers by schema lookup (target wins ties), leaving
        string literals and function names untouched."""
        t_low = {c.lower() for c in t_cols}
        s_low = {c.lower() for c in s_cols}
        tok_re = re.compile(r"[A-Za-z_]\w*(?:\s*\.\s*\w+)?")

        def fix(seg: str) -> str:
            out, pos = [], 0
            for m in tok_re.finditer(seg):
                out.append(seg[pos:m.start()])
                pos = m.end()
                tok = m.group(0)
                if "." in tok:
                    a, _, c = (p.strip() for p in tok.partition("."))
                    if t_alias and a.lower() == t_alias.lower():
                        out.append(f"t.{c}")
                    elif s_alias and a.lower() == s_alias.lower():
                        out.append(f"s.{c}")
                    else:
                        out.append(tok)
                    continue
                low = tok.lower()
                is_func = seg[m.end():].lstrip().startswith("(")
                if low in self._SQL_KEYWORDS or is_func:
                    out.append(tok)
                elif low in t_low:
                    out.append(f"t.{tok}")
                elif low in s_low:
                    out.append(f"s.{tok}")
                else:
                    out.append(tok)
            out.append(seg[pos:])
            return "".join(out)

        # split out '…'-quoted literals; rewrite only the code segments
        parts = re.split(r"('(?:[^']|'')*')", expr)
        return "".join(p if i % 2 else fix(p) for i, p in enumerate(parts))

    @staticmethod
    def _dealias(expr: str | None, alias: str | None) -> str | None:
        """Strip ``alias.`` qualifiers so a plain-WHERE condition (or SET
        right-hand side) resolves against the bare table scan:
        ``DELETE FROM t AS a WHERE a.x > 5`` → condition ``x > 5``. String
        literals are left untouched."""
        if expr is None or not alias:
            return expr
        pat = re.compile(rf"(?i)\b{re.escape(alias)}\s*\.\s*(\w+)")
        parts = re.split(r"('(?:[^']|'')*')", expr)
        return "".join(
            p if i % 2 else pat.sub(r"\1", p) for i, p in enumerate(parts))

    def _dml_where(self, t, where: str | None, t_alias: str | None):
        """Resolve a DELETE/UPDATE WHERE clause supporting the reference's
        subquery-predicate forms (docs/spark-writes.md:170-199): plain
        filters pass through; an uncorrelated scalar subquery is evaluated
        to a literal (one value — bounded driver work); a correlated EXISTS
        becomes a distributed MERGE join (never a collected key list).

        Returns ``("plain", cond_text)`` or
        ``("matching", (source_df, on, extra_cond))``."""
        if where is None:
            return "plain", None
        from iceberg_demo_spark.mv.parser import split_conjuncts

        try:
            conjuncts = split_conjuncts(where)
        except Exception:
            conjuncts = [where]
        exists_sub, in_form, plain = None, None, []
        for c in conjuncts:
            if re.match(r"(?is)^\s*not\s+exists\s*\(", c):
                raise ValueError(
                    "NOT EXISTS predicates are not supported in DELETE/UPDATE"
                    " — use MERGE WHEN NOT MATCHED BY SOURCE")
            em = self._EXISTS_RE.match(c)
            im = self._IN_SUBQ_RE.match(c)
            if (em is not None or im is not None) and (
                    exists_sub is not None or in_form is not None):
                raise ValueError(
                    "only one EXISTS/IN subquery predicate per DELETE/UPDATE"
                    " statement is supported")
            if em is not None:
                exists_sub = em.group(1)
                continue
            if (im is not None
                    and not (t_alias and re.search(
                        rf"(?i)\b{re.escape(t_alias)}\s*\.", im.group(2)))):
                in_form = (im.group(1), im.group(2))
                continue
            plain.append(self._eval_scalar_subqueries(c, t_alias))
        if in_form is not None:
            # col IN (SELECT …): distinct the key set (set semantics) and
            # join on it — stays a distributed plan, never a collected list
            col, sub = in_form
            source = self.sql(self._bind_catalog_refs(sub)).distinct()
            if len(source.columns) != 1:
                raise ValueError("IN subquery must produce exactly one column")
            on = f"t.{col.split('.')[-1]} = s.{source.columns[0]}"
            extra = " AND ".join(f"({c})" for c in plain) if plain else None
            if extra is not None:
                t_cols = {f.name for f in t.metadata.schema}
                extra = self._qualify(extra, t_alias, None, t_cols, set())
            return "matching", (source, on, extra)
        if exists_sub is None:
            return "plain", " AND ".join(
                f"({self._dealias(c, t_alias)})" for c in plain
            ) if plain else "true"
        sm = self._SUBQ_SELECT_RE.match(exists_sub)
        if sm is None:
            raise ValueError(f"cannot parse EXISTS subquery: {exists_sub[:80]}")
        src_name, s_alias, sub_where = sm.group(1), sm.group(2), sm.group(3)
        t_cols = {f.name for f in t.metadata.schema}
        local, corr = [], []
        for c in split_conjuncts(sub_where) if sub_where else []:
            if t_alias and re.search(rf"(?i)\b{re.escape(t_alias)}\s*\.", c):
                corr.append(c)
            else:
                local.append(c)
        if not corr:
            raise ValueError(
                "EXISTS subquery has no correlation to the target table")
        if self.catalog.table_exists(src_name):
            source = self.catalog.load_table(src_name).scan()
            if local:
                source = source.filter(" AND ".join(f"({c})" for c in local))
        else:
            source = self.sql(
                f"SELECT * FROM {src_name}"
                + (f" WHERE {' AND '.join(local)}" if local else ""))
        s_cols = set(source.columns)
        on = " AND ".join(
            f"({self._qualify(c, t_alias, s_alias, t_cols, s_cols)})"
            for c in corr)
        # EXISTS semantics: a target row matched by MANY source rows is
        # matched ONCE. The downstream MERGE join emits one output row per
        # (target, source) match, so dedupe the source on exactly the
        # columns the ON condition reads — otherwise duplicate correlated
        # source rows would silently multiply target rows.
        # scan only code segments — an 's.xyz' inside a string literal in a
        # correlated conjunct must not become a phantom source column
        s_used = sorted({
            m.group(1)
            for i, seg in enumerate(re.split(r"('(?:[^']|'')*')", on))
            if i % 2 == 0
            for m in re.finditer(r"\bs\.(\w+)", seg)})
        if s_used:
            source = source.select(*s_used).distinct()
        else:  # ON references no source column → any one source row suffices
            source = source.limit(1).select(
                F.lit(True).alias("__exists_probe"))
        extra = None
        if plain:
            extra = " AND ".join(
                f"({self._qualify(c, t_alias, None, t_cols, set())})"
                for c in plain)
        return "matching", (source, on, extra)

    def _eval_scalar_subqueries(self, cond: str, t_alias: str | None) -> str:
        """Replace each uncorrelated ``(SELECT …)`` in ``cond`` with its
        single value as a SQL literal."""
        import datetime as _dt
        from decimal import Decimal as _Dec

        def lit(v) -> str:
            if v is None:
                return "NULL"
            if isinstance(v, bool):
                return "true" if v else "false"
            if isinstance(v, (int, float, _Dec)):
                return str(v)
            if isinstance(v, _dt.datetime):
                return f"TIMESTAMP '{v}'"
            if isinstance(v, _dt.date):
                return f"DATE '{v}'"
            return "'" + str(v).replace("'", "''") + "'"

        def repl(m: re.Match) -> str:
            sub = m.group(1)
            if t_alias and re.search(rf"(?i)\b{re.escape(t_alias)}\s*\.", sub):
                raise ValueError(
                    "correlated scalar subqueries are not supported — "
                    "use EXISTS or MERGE")
            rows = self.sql(self._bind_catalog_refs(sub)).limit(2).collect()
            if len(rows) != 1 or len(rows[0]) != 1:
                raise ValueError(
                    "scalar subquery must return exactly one row/column")
            return lit(rows[0][0])

        return self._SCALAR_SUBQ_RE.sub(repl, cond)

    def _bind_catalog_refs(self, sql_text: str) -> str:
        """Bind dotted catalog-table references after FROM/JOIN to temp
        views so plain Spark SQL can resolve them (subqueries may name
        catalog tables that were never ``register()``-ed).

        Round 5: for a single-table query (no JOIN, no set ops, exactly
        one WHERE) the WHERE text rides along as ``prune_where`` so the
        bound scan drops partition-unmatchable files driver-side — the
        hidden-partition pruning an Iceberg catalog gives Spark SQL.
        Pruning is purely subtractive and conservative
        (`Table._prune_cons`): anything it can't prove keeps its files,
        and the SQL WHERE still filters row-wise, so semantics are
        unchanged in every case.

        Round 6 (ADVICE fix): the WHERE is located on the flat shadow
        and must sit at paren depth 0 — a WHERE belonging to a scalar
        subquery in the SELECT list is NOT the outer table's predicate
        and must never prune it. The capture ends only at a depth-0
        GROUP BY/ORDER BY/LIMIT and the captured text must be
        paren-balanced, else pruning is skipped entirely."""
        prune_where = None

        def bind(name: str, pruned: bool) -> str:
            # distinct view names per pruning mode: the same table can be
            # referenced both at top level (pruned) and inside a subquery
            # (NOT pruned — the outer WHERE doesn't constrain its rows);
            # one shared name would let the last binding win for both.
            view = "__sub_" + name.replace(".", "_") + ("_p" if pruned else "")
            self.catalog.load_table(name).scan(
                prune_where=prune_where if pruned else None
            ).createOrReplaceTempView(view)
            return view

        # Non-relational FROMs — extract(epoch FROM x), substring(s FROM 1),
        # trim([BOTH] ch FROM s), overlay(s PLACING y FROM 3) — must not be
        # rewritten even when the operand collides with a catalog table
        # name (round-5 ADVICE fix). They are recognizable by shape:
        # '(' [BOTH|LEADING|TRAILING]? <operand> FROM, or PLACING <operand>
        # FROM; mask that FROM with a \x00 sentinel first (on the raw text,
        # so quoted operands like trim('x' FROM s) are seen whole) and
        # strip the sentinel at the end. A sentinel landing inside a string
        # literal is stripped identically — net zero change.
        masked = re.sub(
            r"(?is)((?:\(\s*(?:(?:both|leading|trailing)\s+)?"
            r"|placing\s+)(?:'(?:[^']|'')*'|[\w.]+)\s+)(from)\b",
            lambda m: m.group(1) + "\x00" + m.group(2) + "\x00",
            sql_text)
        # never rewrite inside '…'-quoted literals ("… FROM db.t …" as a
        # string value must survive verbatim) or in '--' comments. Build a
        # LENGTH-PRESERVING "flat" shadow (literals neutralized, comments
        # blanked) so matches can be located and paren-depth computed on
        # the shadow while the original text is spliced: prune_where
        # applies ONLY to depth-0 references — a table named only inside
        # an IN/EXISTS/scalar subquery is not constrained by the outer
        # WHERE and must NOT be pruned by it (round-5 review fix).
        parts = re.split(r"('(?:[^']|'')*')", masked)
        flat = "".join(
            ("'" + "\x02" * (len(p) - 2) + "'") if i % 2
            else re.sub(r"--[^\n]*", lambda m: " " * len(m.group(0)), p)
            for i, p in enumerate(parts))
        orig = "".join(parts)
        # prune_where extraction on the shadow: depth-0 WHERE only.
        if not re.search(r"(?i)\b(join|union|intersect|except)\b", flat):
            depth0_wheres = [
                m for m in re.finditer(r"(?i)\bwhere\b", flat)
                if flat[:m.start()].count("(") == flat[:m.start()].count(")")
            ]
            if len(depth0_wheres) == 1:
                wm = depth0_wheres[0]
                end = len(flat)
                for tm in re.finditer(
                        r"(?is)\bgroup\s+by\b|\border\s+by\b|\blimit\b",
                        flat[wm.end():]):
                    seg = flat[wm.end():wm.end() + tm.start()]
                    if seg.count("(") == seg.count(")"):
                        end = wm.end() + tm.start()
                        break
                cand = orig[wm.end():end].replace("\x00", "").strip()
                if cand and cand.count("(") == cand.count(")"):
                    prune_where = cand
        out = []
        last = 0
        for m in re.finditer(r"(?is)\b(from\s+|join\s+)([\w.]+)", flat):
            name = orig[m.start(2):m.end(2)]
            out.append(orig[last:m.start()])
            if self.catalog.table_exists(name):
                depth = (flat[:m.start()].count("(")
                         - flat[:m.start()].count(")"))
                view = bind(name, pruned=(depth == 0
                                          and prune_where is not None))
                out.append(orig[m.start(1):m.end(1)] + view)
            else:
                out.append(orig[m.start():m.end()])
            last = m.end()
        out.append(orig[last:])
        return "".join(out).replace("\x00", "")

    #: ``tbl VERSION AS OF v`` / ``tbl TIMESTAMP AS OF 'ts'`` (+ the FOR
    #: SYSTEM_VERSION / SYSTEM_TIME spellings) — docs/spark-queries.md:47-98
    _TT_RE = re.compile(
        r"([\w.]+)\s+(?:FOR\s+SYSTEM_VERSION\s+AS\s+OF|VERSION\s+AS\s+OF)"
        r"\s+('[^']*'|\d+)",
        re.IGNORECASE,
    )
    _TS_RE = re.compile(
        r"([\w.]+)\s+(?:FOR\s+SYSTEM_TIME\s+AS\s+OF|TIMESTAMP\s+AS\s+OF)"
        r"\s+('[^']*')",
        re.IGNORECASE,
    )

    def _rewrite_time_travel(self, text: str) -> str:
        """SQL time travel over catalog tables (iceberg_it.py:1957-2041):
        each ``tbl VERSION AS OF <id|'ref'>`` / ``tbl TIMESTAMP AS OF 'ts'``
        reference is bound to the right snapshot scan via a temp view and
        substituted. Non-catalog names pass through untouched (plain Spark
        SQL may define its own time travel for other sources)."""
        counter = [0]

        def bind(df) -> str:
            counter[0] += 1
            view = f"__tt_{abs(hash(text)) % 10**8}_{counter[0]}"
            df.createOrReplaceTempView(view)
            return view

        def sub_version(m: re.Match) -> str:
            name, ver = m.group(1), m.group(2)
            if not self.catalog.table_exists(name):
                return m.group(0)
            t = self.catalog.load_table(name)
            if ver.startswith("'"):  # string ref: branch or tag name
                ref = ver.strip("'")
                return bind(t.scan(branch=ref) if
                            t.metadata.refs.get(ref, {}).get("type") == "branch"
                            else t.scan(tag=ref))
            return bind(t.scan(snapshot_id=int(ver)))

        def sub_timestamp(m: re.Match) -> str:
            name, ts = m.group(1), m.group(2)
            if not self.catalog.table_exists(name):
                return m.group(0)
            from datetime import datetime, timezone

            dt = datetime.fromisoformat(ts.strip("'"))
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=timezone.utc)
            ms = int(dt.timestamp() * 1000)
            return bind(self.catalog.load_table(name).scan(as_of_timestamp_ms=ms))

        text = self._TT_RE.sub(sub_version, text)
        return self._TS_RE.sub(sub_timestamp, text)

    def _status(self, message: str) -> DataFrame:
        return self.spark.createDataFrame([(message,)], "result string")

    # -- table access ------------------------------------------------------

    def table(self, name: str, **scan_kwargs) -> DataFrame:
        """DataFrame over a catalog table; scan_kwargs pass through to
        Table.scan (snapshot_id / as_of_timestamp_ms / branch / tag).

        Identifier suffixes resolve like Iceberg's (iceberg_it.py:1938-2093):
        ``db.t.files`` (and every metadata table), ``db.t.branch_x``,
        ``db.t.tag_y``."""
        if not self.catalog.table_exists(name) and name.count(".") >= 2:
            base, suffix = name.rsplit(".", 1)
            if self.catalog.table_exists(base):
                t = self.catalog.load_table(base)
                s = suffix.lower()
                if s.startswith("branch_"):
                    return t.scan(branch=s[len("branch_"):], **scan_kwargs)
                if s.startswith("tag_"):
                    return t.scan(tag=s[len("tag_"):], **scan_kwargs)
                return t.metadata_table(s)
        return self.catalog.load_table(name).scan(**scan_kwargs)

    def register(self, name: str, view_name: str | None = None, **scan_kwargs) -> str:
        """Register a catalog table('s snapshot) as a Spark temp view so
        plain SQL — and MV defining queries — can reference it. Returns the
        view name (dots become underscores)."""
        view = view_name or name.replace(".", "_")
        self.table(name, **scan_kwargs).createOrReplaceTempView(view)
        return view

    # -- CALL system.* dispatch (docs/spark-procedures.md) ------------------

    def _call(self, name: str, argstr: str) -> DataFrame:
        args, kw = parse_call_args(argstr)
        name = name.lower()
        table_arg = kw.pop("table", None) or (args.pop(0) if args else None)
        handlers = {
            "rollback_to_snapshot": lambda t: proc.rollback_to_snapshot(
                t, kw.get("snapshot_id", args[0] if args else None)),
            "rollback_to_timestamp": lambda t: proc.rollback_to_timestamp(
                t, kw.get("timestamp_ms", args[0] if args else None)),
            "set_current_snapshot": lambda t: proc.set_current_snapshot(
                t, snapshot_id=kw.get("snapshot_id", args[0] if args else None),
                ref=kw.get("ref")),
            "cherrypick_snapshot": lambda t: proc.cherrypick_snapshot(
                t, kw.get("snapshot_id", args[0] if args else None)),
            "publish_changes": lambda t: proc.publish_changes(
                t, wap_id=kw.get("wap_id"), wap_branch=kw.get("wap_branch")),
            "fast_forward": lambda t: proc.fast_forward(
                t, kw.get("branch", args[0] if args else None),
                kw.get("to", args[1] if len(args) > 1 else None)),
            "expire_snapshots": lambda t: proc.expire_snapshots(
                t, older_than_ms=kw.get("older_than_ms"),
                retain_last=kw.get("retain_last", 1),
                snapshot_ids=kw.get("snapshot_ids")),
            "remove_orphan_files": lambda t: {"orphan_file_location": proc.remove_orphan_files(
                t, older_than_ms=kw.get("older_than_ms"), dry_run=kw.get("dry_run", False))},
            "rewrite_data_files": lambda t: proc.rewrite_data_files(
                t, strategy=kw.get("strategy", "binpack"),
                sort_order=kw.get("sort_order"), where=kw.get("where"),
                target_file_size_bytes=kw.get("target_file_size_bytes")),
            "rewrite_manifests": lambda t: proc.rewrite_manifests(t),
            "rewrite_position_delete_files": lambda t: proc.rewrite_position_delete_files(t),
            "rewrite_table_path": lambda t: proc.rewrite_table_path(
                t, kw.get("target_location", args[0] if args else None),
                staging_location=kw.get("staging_location")),
            "compute_table_stats": lambda t: proc.compute_table_stats(
                t, columns=kw.get("columns")),
        }
        if name == "ancestors_of":
            t = self.catalog.load_table(table_arg)
            return proc.ancestors_of(t, kw.get("snapshot_id", args[0] if args else None))
        if name == "compute_partition_stats":
            return proc.compute_partition_stats(self.catalog.load_table(table_arg))
        if name == "create_changelog_view":
            t = self.catalog.load_table(table_arg)
            return proc.create_changelog_view(
                t, kw.get("changelog_view", f"{t.name.split('.')[-1]}_changes"),
                start_snapshot_id=kw.get("start_snapshot_id"),
                end_snapshot_id=kw.get("end_snapshot_id"),
                identifier_columns=kw.get("identifier_columns"),
                net_changes=kw.get("net_changes", False),
            )
        if name == "add_files":
            t = self.catalog.load_table(table_arg)
            res = proc.add_files(t, self.spark, kw.get("source_table", args[0] if args else None))
            return self._result_df(res)
        if name == "migrate":
            t = proc.migrate_parquet_path(self.catalog, self.spark, table_arg,
                                          kw.get("source", args[0] if args else None))
            return self._status(f"migrated to {t.name}")
        if name == "register_table":
            t = proc.register_table(self.catalog, table_arg,
                                    kw.get("metadata_file", args[0] if args else None))
            return self._status(f"registered {t.name}")
        if name == "snapshot":
            dest = kw.get("dest", args[0] if args else None)
            t = proc.snapshot_table(self.catalog.load_table(table_arg), dest, self.catalog)
            return self._status(f"snapshotted to {t.name}")
        if name not in handlers:
            raise ValueError(f"unknown procedure: system.{name}")
        t = self.catalog.load_table(table_arg)
        res = handlers[name](t)
        return self._result_df(res)

    def _result_df(self, res) -> DataFrame:
        if isinstance(res, DataFrame):
            return res
        if isinstance(res, dict):
            items = sorted(res.items())
            row = tuple(str(v) if isinstance(v, (list, dict)) else v for _k, v in items)
            ddl = ", ".join(
                f"{k} {'bigint' if isinstance(v, (int, type(None))) and not isinstance(v, bool) else 'string'}"
                for k, v in items
            )
            return self.spark.createDataFrame([row], ddl)
        return self._status(str(res))

    # -- WAP ---------------------------------------------------------------

    def set_wap_branch(self, branch: str | None) -> None:
        self.wap_branch = branch

    def write_branch(self, table) -> str:
        """Resolve the effective write branch for a table: WAP staging branch
        when enabled on the table + session (iceberg_it.py:1352-1365)."""
        from iceberg_demo_spark.tables.format import MAIN_BRANCH

        if self.wap_branch and table.properties.get("write.wap.enabled", "").lower() == "true":
            if self.wap_branch not in table.metadata.refs:
                cur = table.metadata.current_snapshot()
                if cur is not None:
                    table.create_branch(self.wap_branch)
            return self.wap_branch
        return MAIN_BRANCH
