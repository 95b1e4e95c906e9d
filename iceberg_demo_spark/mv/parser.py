"""SQL-subset parser + expression normalization for MV rewriting.

The reference plugin decomposes *analyzed Catalyst plans* into
PlanInfo(baseTable, predicates, groupBy, aggregates, outputs)
(AggregateRewriter.scala:272-310) and compares canonicalized expression
sets. We decompose the *SQL text* into the same shape: the supported
grammar is exactly the plugin's capability envelope — Project / Filter /
Aggregate over base relations and 2+-way equi-join trees, no subqueries, no
HAVING, no windows (those queries simply don't rewrite, same as the plugin).

Canonicalization here = alias→table qualification + whitespace/case
normalization, standing in for Catalyst's expression canonicalization.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_AGG_RE = re.compile(r"^(sum|count|min|max|avg)\((distinct\s+)?(.+)\)$", re.IGNORECASE)

_JOIN_RE = re.compile(
    r"\b(inner\s+join|left\s+(outer\s+)?join|right\s+(outer\s+)?join|"
    r"full\s+(outer\s+)?join|cross\s+join|join)\b",
    re.IGNORECASE,
)

_CLAUSE_KEYWORDS = ["where", "group by", "having", "order by", "limit"]


@dataclass
class QueryInfo:
    select: list[tuple[str, str | None]]  # (normalized expr, alias or None)
    base_tables: list[str]  # in FROM-clause order
    joins: list[dict] = field(default_factory=list)  # {type, right_table, condition}
    where: list[str] = field(default_factory=list)  # normalized conjuncts
    group_by: list[str] = field(default_factory=list)
    order_by: str | None = None
    limit: int | None = None

    def agg_items(self) -> list[tuple[str, str, str | None]]:
        """(fn, arg, alias) for aggregate select items; fn='' for plain."""
        out = []
        for expr, alias in self.select:
            m = _AGG_RE.match(expr)
            if m:
                fn = m.group(1).lower()
                if m.group(2):
                    fn += "_distinct"
                out.append((fn, m.group(3).strip(), alias))
            else:
                out.append(("", expr, alias))
        return out


class ParseError(Exception):
    pass


def _split_top_level(s: str, sep: str = ",") -> list[str]:
    out, depth, cur = [], 0, []
    i = 0
    while i < len(s):
        ch = s[i]
        if ch == "'":
            j = s.index("'", i + 1) if "'" in s[i + 1:] else len(s) - 1
            cur.append(s[i : j + 1])
            i = j + 1
            continue
        if ch in "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if depth == 0 and s[i : i + len(sep)].lower() == sep.lower() and (
            not sep[0].isalnum()
            or ((i == 0 or not s[i - 1].isalnum()) and not s[i + len(sep) : i + len(sep) + 1].isalnum())
        ):
            out.append("".join(cur))
            cur = []
            i += len(sep)
            continue
        cur.append(ch)
        i += 1
    out.append("".join(cur))
    return [p.strip() for p in out if p.strip()]


#: a quoted string literal ('…' or "…", backslash escapes), captured so
#: re.split keeps it
_LITERAL_RE = re.compile(r"""('(?:[^'\\]|\\.)*'|"(?:[^"\\]|\\.)*")""")


def normalize_expr(expr: str, aliases: dict[str, str] | None = None,
                   single_table: str | None = None) -> str:
    """Whitespace/case canonicalization + alias→table qualification; for
    single-table queries, the table qualifier is stripped entirely so that
    ``sales.amount``, ``s.amount`` and ``amount`` all canonicalize alike.
    Quoted string literals are kept verbatim: ``'1-URGENT'`` and
    ``'1-urgent'`` are different values."""

    def canon(s: str) -> str:
        s = re.sub(r"\s+", " ", s)
        s = re.sub(r"\s*([=<>!%*/+,()-])\s*", r"\1", s)
        s = s.lower()
        for a, t in (aliases or {}).items():
            s = re.sub(rf"\b{re.escape(a.lower())}\.", f"{t.lower()}.", s)
        if single_table:
            s = re.sub(rf"\b{re.escape(single_table.lower())}\.", "", s)
        return re.sub(r"\bcount\(1\)", "count(*)", s)

    parts = _LITERAL_RE.split(expr.strip())
    return "".join(p if i % 2 else canon(p) for i, p in enumerate(parts))


def split_conjuncts(cond: str) -> list[str]:
    """AND-split at top level (AggregateRewriter.scala:330-335 semantics).
    An OR at top level keeps the predicate as one conjunct."""
    parts = _split_top_level(cond, " and ")
    out = []
    for p in parts:
        p = p.strip()
        while p.startswith("(") and p.endswith(")") and _balanced(p[1:-1]):
            p = p[1:-1].strip()
        out.append(p)
    return out


def _balanced(s: str) -> bool:
    d = 0
    for ch in s:
        if ch == "(":
            d += 1
        elif ch == ")":
            d -= 1
        if d < 0:
            return False
    return d == 0


def parse_select(sql: str) -> QueryInfo:
    """Parse the supported SELECT subset; raises ParseError outside it."""
    s = re.sub(r"\s+", " ", sql.strip().rstrip(";").strip())
    if not s.lower().startswith("select "):
        raise ParseError("not a SELECT")
    body = s[len("select ") :]
    # split off FROM at top level
    from_split = _split_top_level(body, " from ")
    if len(from_split) < 2:
        raise ParseError("no FROM clause")
    if len(from_split) > 2:
        raise ParseError("subquery or multiple FROM")
    select_part, rest = from_split
    clauses: dict[str, str] = {}
    cur_kw, cur_val = "from", []
    tokens = rest
    # scan for top-level clause keywords
    low = tokens.lower()
    positions = []
    for kw in _CLAUSE_KEYWORDS:
        for m in re.finditer(rf"\b{kw}\b", low):
            if _balanced(tokens[: m.start()]):
                positions.append((m.start(), kw))
                break
    positions.sort()
    bounds = positions + [(len(tokens), None)]
    clauses["from"] = tokens[: bounds[0][0]].strip()
    for (start, kw), (end, _) in zip(positions, bounds[1:]):
        clauses[kw] = tokens[start + len(kw) : end].strip()
    if "having" in clauses:
        raise ParseError("HAVING not supported")

    # FROM + JOINs
    from_clause = clauses["from"]
    if "(" in from_clause:
        raise ParseError("subquery in FROM")
    segments = []
    last = 0
    join_matches = list(_JOIN_RE.finditer(from_clause))
    for m in join_matches:
        segments.append(from_clause[last : m.start()].strip())
        last = m.end()
        segments.append(m.group(1).lower())
    segments.append(from_clause[last:].strip())

    def parse_table(seg: str) -> tuple[str, str | None, str | None]:
        # "tbl [AS] alias [ON cond]" — returns (table, alias, on_cond)
        on_cond = None
        mo = re.search(r"\bon\b", seg, re.IGNORECASE)
        if mo:
            on_cond = seg[mo.end() :].strip()
            seg = seg[: mo.start()].strip()
        parts = seg.split()
        if not parts:
            raise ParseError("empty table ref")
        tbl = parts[0]
        alias = None
        if len(parts) == 2:
            alias = parts[1]
        elif len(parts) == 3 and parts[1].lower() == "as":
            alias = parts[2]
        elif len(parts) > 1:
            raise ParseError(f"bad table ref: {seg}")
        return tbl, alias, on_cond

    tables: list[str] = []
    aliases: dict[str, str] = {}
    joins: list[dict] = []
    t0, a0, _ = parse_table(segments[0])
    tables.append(t0)
    if a0:
        aliases[a0] = t0
    i = 1
    while i < len(segments):
        jtype = segments[i].replace(" outer", "").replace(" ", "_")
        tbl, alias, on_cond = parse_table(segments[i + 1])
        tables.append(tbl)
        if alias:
            aliases[alias] = tbl
        if jtype != "cross_join" and not on_cond:
            raise ParseError("JOIN without ON")
        joins.append({"type": jtype.replace("_join", "") or "inner",
                      "right_table": tbl, "condition": on_cond})
        i += 2
    for j in joins:
        if j["type"] == "join":
            j["type"] = "inner"

    single = tables[0] if len(tables) == 1 else None

    def norm(e: str) -> str:
        return normalize_expr(e, aliases, single)

    select_items: list[tuple[str, str | None]] = []
    for item in _split_top_level(select_part, ","):
        m = re.match(r"^(.*?)\s+as\s+(\w+)$", item, re.IGNORECASE)
        if m:
            select_items.append((norm(m.group(1)), m.group(2).lower()))
        else:
            # "expr alias" (no AS) for simple identifier pairs
            parts = item.rsplit(" ", 1)
            if (
                len(parts) == 2
                and re.fullmatch(r"\w+", parts[1])
                and not _AGG_RE.match(item)
                and _balanced(parts[0])
                and parts[1].lower() not in ("asc", "desc")
                and not re.fullmatch(r"[\w.]+", item)
            ):
                select_items.append((norm(parts[0]), parts[1].lower()))
            else:
                select_items.append((norm(item), None))

    info = QueryInfo(select=select_items, base_tables=[t.lower() for t in tables])
    for j in joins:
        info.joins.append(
            {
                "type": j["type"],
                "right_table": j["right_table"].lower(),
                "condition": _norm_join_cond(j["condition"], aliases) if j["condition"] else None,
            }
        )
    if "where" in clauses:
        info.where = sorted(norm(c) for c in split_conjuncts(clauses["where"]))
    if "group by" in clauses:
        info.group_by = [norm(g) for g in _split_top_level(clauses["group by"], ",")]
    if "order by" in clauses:
        info.order_by = norm(clauses["order by"])
    if "limit" in clauses:
        info.limit = int(clauses["limit"].strip())
    return info


def _norm_join_cond(cond: str, aliases: dict[str, str]) -> str:
    """Join conditions compare as unordered equality sets where possible:
    ``a.x = b.y`` == ``b.y = a.x``."""
    c = normalize_expr(cond, aliases)
    m = re.fullmatch(r"([\w.]+)=([\w.]+)", c)
    if m:
        return "=".join(sorted([m.group(1), m.group(2)]))
    return c


# -- statement-level dispatch (MaterializedViewParser.scala:24-60 analog) --

_CREATE_MV_RE = re.compile(
    r"^\s*create\s+materialized\s+view\s+(if\s+not\s+exists\s+)?([\w.]+)\s+as\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_MV_RE = re.compile(
    r"^\s*drop\s+materialized\s+view\s+(if\s+exists\s+)?([\w.]+)\s*$", re.IGNORECASE
)
_REFRESH_MV_RE = re.compile(
    r"^\s*refresh\s+materialized\s+view\s+([\w.]+)"
    r"(\s+incremental|\s+delta)?\s*$", re.IGNORECASE
)
_SHOW_MV_RE = re.compile(r"^\s*show\s+materialized\s+views\s*$", re.IGNORECASE)
_CALL_RE = re.compile(r"^\s*call\s+(?:[\w]+\.)?system\.(\w+)\s*\((.*)\)\s*$",
                      re.IGNORECASE | re.DOTALL)


def match_statement(sql: str):
    """Returns (kind, groups) for engine-extension statements, else None."""
    s = sql.strip().rstrip(";")
    for kind, rx in (
        ("create_mv", _CREATE_MV_RE),
        ("drop_mv", _DROP_MV_RE),
        ("refresh_mv", _REFRESH_MV_RE),
        ("show_mv", _SHOW_MV_RE),
        ("call", _CALL_RE),
    ):
        m = rx.match(s)
        if m:
            return kind, m
    return None


def parse_call_args(argstr: str) -> tuple[list, dict]:
    """CALL arg list: positional and/or ``name => value`` named args
    (docs/spark-procedures.md:31-37). Literals: ints, floats, 'strings',
    true/false, ARRAY(...)."""
    args, kwargs = [], {}
    if not argstr.strip():
        return args, kwargs
    for part in _split_top_level(argstr, ","):
        m = re.match(r"^(\w+)\s*=>\s*(.+)$", part.strip(), re.DOTALL)
        if m:
            kwargs[m.group(1).lower()] = _parse_literal(m.group(2).strip())
        else:
            args.append(_parse_literal(part.strip()))
    return args, kwargs


def _parse_literal(s: str):
    low = s.lower()
    if low in ("true", "false"):
        return low == "true"
    if s.startswith("'") and s.endswith("'"):
        return s[1:-1]
    m = re.fullmatch(r"array\s*\((.*)\)", s, re.IGNORECASE | re.DOTALL)
    if m:
        return [_parse_literal(x.strip()) for x in _split_top_level(m.group(1), ",")]
    try:
        return int(s)
    except ValueError:
        pass
    try:
        return float(s)
    except ValueError:
        pass
    return s  # raw expression (e.g. a map or timestamp) — caller decides
