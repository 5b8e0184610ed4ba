"""SQL-string DML façade: run the reference's verbatim MERGE / UPDATE /
DELETE texts against the parquet warehouse.

Vanilla Spark parses ``MERGE INTO`` / ``UPDATE`` / ``DELETE`` only for v2
/ Delta tables — a user pasting the reference's SQL
(``04_silver_transformation.py:194-202``::

    MERGE INTO silver_earthquakes t
    USING silver_updates s
    ON t.event_id = s.event_id
    WHEN MATCHED THEN UPDATE SET *
    WHEN NOT MATCHED THEN INSERT *

or ``02_ingestion.py:221-227`` / ``04_silver_transformation.py:216-222``::

    UPDATE control_watermark
    SET watermark_value = TIMESTAMP '...',
        last_updated = current_timestamp(),
        records_processed = records_processed + 5332
    WHERE table_name = 'silver_earthquakes'

) gets an AnalysisException. :class:`SqlDml` closes that gap: it parses
the DML/DDL statement shapes below with a small regex grammar and
dispatches them to warehouse primitives (anti-join + union + atomic
overwrite); any other statement passes through to ``spark.sql`` with the
warehouse tables registered as views. No SQL generality is promised beyond the grammar
below — unsupported syntax raises ``ValueError`` with the offending text,
never a silent misparse. Keyword detection runs against a literal-MASKED
copy of the statement (:func:`_mask_literals`), so grammar keywords inside
single-quoted strings (``SET msg = 'x where y'``) never confuse the parse.

Supported grammar (case-insensitive keywords):

- ``MERGE INTO <tbl> [AS] [t] USING <src> [AS] [s] ON <equi-cond>
  {WHEN MATCHED [AND <cond>] THEN UPDATE SET * | UPDATE SET a=e, ... |
  DELETE} ... {WHEN NOT MATCHED [AND <cond>] THEN INSERT * |
  INSERT (cols) VALUES (exprs)} ...`` — ``<src>`` is a temp view (the
  reference's ``silver_updates``) or a warehouse table; ``<equi-cond>``
  must be ``t.k = s.k [AND ...]`` (the keys that make MERGE well-defined).
  Clauses apply first-match-wins per row, SQL:2003 semantics. The source
  must be key-unique (checked; Delta raises the same way on multi-match).
- ``UPDATE <tbl> SET a = expr, ... [WHERE <cond>]`` — every SET expression
  evaluates against the PRE-update row (standard SQL), via one select +
  atomic overwrite.
- ``DELETE FROM <tbl> [WHERE <cond>]`` — filter-rewrite keeping rows where
  the condition is not TRUE (NULL keeps, SQL semantics).
- ``DROP TABLE [IF EXISTS] <tbl>`` / ``CREATE TABLE [IF NOT EXISTS] <tbl>
  (col TYPE, ...) [USING <anything>]`` / ``INSERT INTO <tbl> VALUES (...)
  [, (...)] | SELECT ...`` — the reference's config-setup flow
  (``01_config_setup.py:38-66``) verbatim: the column list parses through
  Spark's own DDL grammar, ``USING DELTA`` is accepted and ignored (this
  warehouse IS the storage layer), VALUES expressions evaluate with Spark
  SQL semantics (TIMESTAMP literals, current_timestamp()).
- **Delta operational SQL** — the reference's TABLE OPTIMIZATION.py flow
  verbatim: ``OPTIMIZE <tbl> [ZORDER BY (cols)]`` (→ compaction with
  range clustering, :33-36/:100), ``DESCRIBE DETAIL <tbl>`` (Delta
  column names — ``numFiles`` etc., :23-26), ``ANALYZE TABLE <tbl>
  COMPUTE STATISTICS`` (:119-124, Spark's catalog statistics),
  ``VACUUM <tbl> [RETAIN n HOURS]`` (:136-144).
  On the Delta-log backend additionally ``DESCRIBE HISTORY <tbl>``,
  ``RESTORE TABLE <tbl> TO VERSION AS OF n``, ``SELECT … FROM <tbl>
  VERSION AS OF n`` and ``SELECT … FROM table_changes('<tbl>', a[, b])``
  (keyless change feed: updates surface as delete+insert pairs).

Execution is the same shuffle shape Delta uses for unpartitioned tables
(join on the merge keys + rewrite); at 100 TB one bounds the rewrite with
``Warehouse.merge(prune_partition_col=...)`` — this façade is the
*compatibility* surface, the programmatic API stays the scale path.
"""

from __future__ import annotations

import re
from contextlib import contextmanager

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from ..session import materialize, materialized_scope
from .warehouse import Warehouse

_MERGE_RE = re.compile(
    r"^\s*MERGE\s+(?:(?P<evolve>WITH\s+SCHEMA\s+EVOLUTION)\s+)?"
    r"INTO\s+(?P<target>[\w.]+)"
    r"(?:\s+(?:AS\s+)?(?P<talias>(?!USING\b)\w+))?"
    r"\s+USING\s+(?P<source>[\w.]+)"
    r"(?:\s+(?:AS\s+)?(?P<salias>(?!ON\b)\w+))?"
    r"\s+ON\s+(?P<on>.*?)"
    r"\s+(?P<clauses>WHEN\s+.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_UPDATE_RE = re.compile(
    r"^\s*UPDATE\s+(?P<target>[\w.]+)\s+SET\s+(?P<sets>.*?)"
    r"(?:\s+WHERE\s+(?P<where>.*?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+(?P<target>[\w.]+)"
    r"(?:\s+WHERE\s+(?P<where>.*?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_DROP_RE = re.compile(
    r"^\s*DROP\s+TABLE\s+(?P<ifexists>IF\s+EXISTS\s+)?(?P<target>[\w.]+)\s*;?\s*$",
    re.IGNORECASE,
)

_CREATE_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?P<ifnot>IF\s+NOT\s+EXISTS\s+)?(?P<target>[\w.]+)"
    r"\s*\(\s*(?P<cols>.*?)\s*\)"
    r"(?:\s+USING\s+(?P<provider>\w+))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_INSERT_RE = re.compile(
    r"^\s*INSERT\s+(?:INTO|(?P<over>OVERWRITE)(?:\s+TABLE)?)\s+"
    r"(?P<target>[\w.]+)\s+"
    r"(?:REPLACE\s+WHERE\s+(?P<replwhere>.*?)\s+(?=VALUES|SELECT))?"
    r"(?:VALUES\s*(?P<values>\(.*\))|(?P<select>SELECT\s+.*?))\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_CTAS_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?P<ifnot>IF\s+NOT\s+EXISTS\s+)?(?P<target>[\w.]+)"
    r"(?:\s+USING\s+(?P<provider>\w+))?"
    r"(?:\s+PARTITIONED\s+BY\s*\(\s*(?P<pcols>[^)]*?)\s*\))?"
    r"\s+AS\s+(?P<select>SELECT\s+.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_COPY_RE = re.compile(
    r"^\s*COPY\s+INTO\s+(?P<target>[\w.]+)\s+FROM\s+'(?P<src>[^']+)'"
    r"\s+FILEFORMAT\s*=\s*(?P<fmt>\w+)"
    r"(?:\s+PATTERN\s*=\s*'(?P<pattern>[^']+)')?"
    r"(?:\s+FORCE\s*=\s*(?P<force>TRUE|FALSE))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_ALTER_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<target>[\w.]+)\s+"
    r"(?:ADD\s+CONSTRAINT\s+(?P<cname>\w+)\s+CHECK\s*\(\s*(?P<expr>.*?)\s*\)"
    r"|DROP\s+CONSTRAINT\s+(?P<dname>\w+)"
    r"|ADD\s+COLUMNS?\s*\(?\s*(?P<acol>\w+)\s+(?P<atype>[\w()<>,\s]+)"
    r"|RENAME\s+COLUMN\s+(?P<rold>\w+)\s+TO\s+(?P<rnew>\w+)"
    r"|DROP\s+COLUMNS?\s*\(?\s*(?P<dcol>\w+)\s*\)?"
    r"|ALTER\s+COLUMN\s+(?P<wcol>\w+)\s+TYPE\s+(?P<wtype>[\w()<>,\s]+)"
    r"|SET\s+TBLPROPERTIES\s*\(\s*(?P<props>.*?)\s*\))\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_MAPPING_PROP_RE = re.compile(
    r"^\s*['\"]delta\.columnMapping\.mode['\"]\s*=\s*['\"]name['\"]\s*$",
    re.IGNORECASE,
)

_OPTIMIZE_RE = re.compile(
    r"^\s*OPTIMIZE\s+(?P<target>[\w.]+)"
    r"(?:\s+ZORDER\s+BY\s*\(\s*(?P<cols>[^)]*?)\s*\))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_VACUUM_RE = re.compile(
    r"^\s*VACUUM\s+(?P<target>[\w.]+)"
    r"(?:\s+RETAIN\s+(?P<hours>\d+)\s+HOURS)?\s*;?\s*$",
    re.IGNORECASE,
)

_ANALYZE_RE = re.compile(
    r"^\s*ANALYZE\s+TABLE\s+(?P<target>[\w.]+)\s+COMPUTE\s+STATISTICS\s*;?\s*$",
    re.IGNORECASE,
)

_DESCRIBE_RE = re.compile(
    r"^\s*DESCRIBE\s+(?P<kind>DETAIL|HISTORY)\s+(?P<target>[\w.]+)\s*;?\s*$",
    re.IGNORECASE,
)

_RESTORE_RE = re.compile(
    r"^\s*RESTORE\s+TABLE\s+(?P<target>[\w.]+)\s+TO\s+VERSION\s+AS\s+OF\s+"
    r"(?P<version>\d+)\s*;?\s*$",
    re.IGNORECASE,
)

_VERSION_AS_OF_RE = re.compile(
    r"(?P<tbl>[\w.]+)\s+VERSION\s+AS\s+OF\s+(?P<v>\d+)",
    re.IGNORECASE,
)

_TIMESTAMP_AS_OF_RE = re.compile(
    r"(?P<tbl>[\w.]+)\s+TIMESTAMP\s+AS\s+OF\s+'(?P<ts>[^']+)'",
    re.IGNORECASE,
)

_CLONE_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?P<ifnot>IF\s+NOT\s+EXISTS\s+)?(?P<target>[\w.]+)"
    r"\s+SHALLOW\s+CLONE\s+(?P<source>[\w.]+)\s*;?\s*$",
    re.IGNORECASE,
)

_TABLE_CHANGES_RE = re.compile(
    r"table_changes\s*\(\s*'(?P<tbl>[\w.]+)'\s*,\s*(?P<from_v>\d+)"
    r"(?:\s*,\s*(?P<to_v>\d+))?\s*\)",
    re.IGNORECASE,
)

_WHEN_RE = re.compile(
    r"WHEN\s+(?P<not>NOT\s+)?MATCHED"
    r"(?:\s+BY\s+(?P<by>SOURCE|TARGET))?"
    r"(?:\s+AND\s+(?P<cond>.*?))?\s+THEN\s+"
    r"(?P<action>UPDATE\s+SET\s.*?|DELETE|INSERT\s.*?)"
    r"(?=\s+WHEN\s+(?:NOT\s+)?MATCHED|\s*$)",
    re.IGNORECASE | re.DOTALL,
)


def _mask_literals(text: str) -> str:
    """Same-LENGTH copy of ``text`` with every character inside a
    single-quoted string replaced by ``\\x00`` (the quotes themselves
    stay). Keyword regexes run against the mask so a literal like
    ``'x where y'`` can never be mistaken for a WHERE clause; because
    the mask preserves length, every match span maps 1:1 back onto the
    original text. SQL's ``''`` escape degenerates to close-then-reopen,
    which masks identically; Spark SQL's backslash escape (``\\'``) must
    NOT flip the in-string state — without tracking it, everything after
    the escaped quote is masked inverted and keywords hidden inside later
    literals leak into the grammar match."""
    out, in_str, esc = [], False, False
    for ch in text:
        if in_str:
            if esc:
                out.append("\x00")
                esc = False
            elif ch == "\\":
                out.append("\x00")
                esc = True
            elif ch == "'":
                out.append(ch)
                in_str = False
            else:
                out.append("\x00")
            continue
        out.append(ch)
        if ch == "'":
            in_str = True
    return "".join(out)


def _mask_match(regex: re.Pattern, text: str) -> dict[str, str | None] | None:
    """Match ``regex`` against the literal-masked ``text`` and return
    {named group: ORIGINAL-text slice} (None for unmatched optional
    groups), or None when the statement does not match the grammar."""
    m = regex.match(_mask_literals(text))
    if not m:
        return None
    out: dict[str, str | None] = {}
    for name in regex.groupindex:
        s, e = m.span(name)
        out[name] = None if s == -1 else text[s:e]
    return out


def _split_column_specs(text: str) -> list[str]:
    """Split an ADD COLUMNS spec list on commas OUTSIDE parentheses AND
    angle brackets — ``tags map<string, int>`` is ONE entry. A dedicated
    splitter (not ``_split_top_level``): generic SQL fragments use ``<``
    as a comparison operator, so angle-depth tracking is only sound
    where the grammar guarantees type syntax."""
    parts, depth, cur = [], 0, []
    for ch in text:
        if ch in "(<":
            depth += 1
        elif ch in ")>":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    tail = "".join(cur).strip()
    if tail:
        parts.append(tail)
    return parts


def _split_top_level(text: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` outside parentheses and single-quoted strings
    (backslash-escape-aware, same string lexing as ``_mask_literals``)."""
    parts, depth, in_str, esc, cur = [], 0, False, False, []
    for ch in text:
        if in_str:
            cur.append(ch)
            if esc:
                esc = False
            elif ch == "\\":
                esc = True
            elif ch == "'":
                in_str = False
            continue
        if ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == sep and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur).strip())
    return [p for p in parts if p]


def _parse_assignments(text: str) -> list[tuple[str, str]]:
    out = []
    for part in _split_top_level(text):
        col, eq, expr = part.partition("=")
        if not eq or not col.strip() or not expr.strip():
            raise ValueError(f"unparseable SET assignment: {part!r}")
        # strip an optional alias qualifier from the assigned column name
        out.append((col.strip().split(".")[-1], expr.strip()))
    return out


def _parse_equi_keys(on: str, talias: str, salias: str) -> list[str]:
    """ON must be a conjunction of t.k = s.k equalities; returns the key
    column names (t-side). Non-equi conditions make MERGE row identity
    ambiguous on the anti-join path — refuse rather than guess."""
    keys = []
    for conj in re.split(r"\s+AND\s+", on.strip(), flags=re.IGNORECASE):
        m = re.match(
            r"^\s*(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s*$", conj.strip()
        )
        if not m:
            raise ValueError(
                f"MERGE ON must be t.key = s.key [AND ...]; got {conj!r}"
            )
        a_al, a_col, b_al, b_col = m.groups()
        pair = {a_al.lower(): a_col, b_al.lower(): b_col}
        if set(pair) != {talias.lower(), salias.lower()}:
            raise ValueError(
                f"ON term {conj!r} must reference both {talias!r} and {salias!r}"
            )
        t_col, s_col = pair[talias.lower()], pair[salias.lower()]
        if t_col.lower() != s_col.lower():
            raise ValueError(
                "MERGE ON key columns must share a name on both sides "
                f"(got {t_col!r} vs {s_col!r}) — required for the "
                "anti-join/union rewrite"
            )
        keys.append(t_col)
    return keys


class SqlDml:
    """``engine.sql(text)`` — reference-verbatim SQL against the warehouse.

    DML statements (MERGE/UPDATE/DELETE) execute against warehouse tables
    and return a one-row summary DataFrame (statement, table, row counts).
    Everything else registers the warehouse tables as temp views and runs
    through ``spark.sql`` unchanged, so ``SELECT COUNT(*) FROM
    silver_earthquakes`` (``04_silver_transformation.py:230-231``) works
    against the same names."""

    def __init__(self, warehouse: Warehouse):
        self.wh = warehouse
        self.spark = warehouse.spark

    # -- dispatch ---------------------------------------------------------
    def sql(self, text: str) -> DataFrame:
        head = text.lstrip().split(None, 2)
        verb = head[0].upper() if head else ""
        dml = {"MERGE": self._merge, "UPDATE": self._update,
               "DELETE": self._delete}.get(verb)
        if dml is not None:
            # the frames a statement caches are freed when it returns OR
            # raises (a CHECK violation aborts the write mid-statement)
            with materialized_scope():
                return dml(text)
        if verb == "DROP" and len(head) > 1 and head[1].upper() == "TABLE":
            return self._drop(text)
        if verb == "CREATE" and len(head) > 1 and head[1].upper() == "TABLE":
            return self._create(text)
        if verb == "INSERT":
            return self._insert(text)
        if verb == "ALTER" and len(head) > 1 and head[1].upper() == "TABLE":
            return self._alter(text)
        if verb == "OPTIMIZE":
            return self._optimize(text)
        if verb == "VACUUM":
            return self._vacuum(text)
        if verb == "ANALYZE":
            return self._analyze(text)
        if verb == "DESCRIBE" and len(head) > 1 and head[1].upper() in (
            "DETAIL", "HISTORY",
        ):
            return self._describe(text)
        if verb == "RESTORE":
            return self._restore(text)
        if verb == "COPY" and len(head) > 1 and head[1].upper() == "INTO":
            return self._copy_into(text)
        if verb == "SHOW" and len(head) > 1 and head[1].upper() == "PARTITIONS":
            m = re.match(
                r"^\s*SHOW\s+PARTITIONS\s+(?P<target>[\w.]+)\s*;?\s*$",
                text, re.IGNORECASE,
            )
            if not m:
                raise ValueError(f"unsupported SHOW PARTITIONS syntax: {text!r}")
            if not self.wh.exists(m["target"]):
                raise ValueError(
                    f"SHOW PARTITIONS target {m['target']!r} is not a "
                    "warehouse table"
                )
            return self.wh.show_partitions(m["target"])
        self.wh.register_views()
        return self.spark.sql(self._rewrite_versioned_reads(text))

    # -- Delta operational SQL (TABLE OPTIMIZATION.py verbatim flow) ------
    def _versioned(self, feature: str):
        # capability check, not a class check: any backend with a commit
        # log qualifies — DeltaLogWarehouse (real _delta_log) serves the
        # full surface
        if not (hasattr(self.wh, "read_version") and hasattr(self.wh, "history")):
            raise ValueError(
                f"{feature} needs a commit-log warehouse backend "
                "(DeltaLogWarehouse) — the plain warehouse keeps no "
                "commit log"
            )
        return self.wh

    def _alter(self, text: str) -> DataFrame:
        """``ALTER TABLE t ADD CONSTRAINT n CHECK (expr)`` / ``DROP
        CONSTRAINT n`` — Delta's persistent CHECK constraints: existing
        rows validate at ADD time, every later warehouse write enforces
        at the staging boundary (Warehouse.add_constraint). Column
        evolution verbs — ``ADD COLUMN c type`` / ``RENAME COLUMN a TO
        b`` / ``DROP COLUMN c`` — are metadata-only on the Delta
        (column mapping) and Iceberg (field ids) backends and refuse on
        plain parquet, where they would mean rewriting every file.
        ``SET TBLPROPERTIES ('k'='v', ...)`` publishes table properties;
        setting ``'delta.columnMapping.mode'='name'`` runs the mapping
        UPGRADE (physical names pinned to current names, protocol
        raised) — the rename/drop precondition."""
        m = _mask_match(_ALTER_RE, text)
        if not m:
            raise ValueError(f"unsupported ALTER TABLE syntax: {text!r}")
        name = m["target"]
        if not self.wh.exists(name):
            raise ValueError(f"ALTER target {name!r} is not a warehouse table")
        if m["acol"]:
            # greedy type capture swallows the wrapping paren of the
            # ADD COLUMNS (c type) form — strip it when unbalanced
            spec = f"{m['acol']} {m['atype'].strip()}"
            while spec.endswith(")") and spec.count(")") > spec.count("("):
                spec = spec[:-1].rstrip()
            # ADD COLUMNS (a int, b string): every top-level comma part
            # is one "name type" pair — adding only the first and
            # dropping the rest with a success summary would be silent
            # schema loss. The whole list commits as ONE backend
            # metadata mutation (add_columns): types parse before the
            # commit, collisions refuse inside it, so a bad entry or a
            # lost OCC race can never leave the statement half-applied.
            entries = []
            for part in _split_column_specs(spec):
                cm = re.match(r"^\s*(\w+)\s+(.+?)\s*$", part)
                if not cm:
                    raise ValueError(
                        f"unsupported ADD COLUMN entry: {part!r}"
                    )
                entries.append((cm.group(1), cm.group(2)))
            self.wh.add_columns(name, entries)
            return self._summary(
                statement="ALTER", table=name,
                column=",".join(n for n, _ in entries), action="added",
            )
        if m["rold"]:
            self.wh.rename_column(name, m["rold"], m["rnew"])
            return self._summary(
                statement="ALTER", table=name,
                column=f"{m['rold']}->{m['rnew']}", action="renamed",
            )
        if m["dcol"]:
            self.wh.drop_column(name, m["dcol"])
            return self._summary(
                statement="ALTER", table=name,
                column=m["dcol"], action="dropped",
            )
        if m["wcol"]:
            self.wh.widen_column(name, m["wcol"], m["wtype"].strip())
            return self._summary(
                statement="ALTER", table=name,
                column=m["wcol"], action="widened",
            )
        if m["props"] is not None:
            return self._set_tblproperties(name, m["props"])
        if m["cname"]:
            self.wh.add_constraint(name, m["cname"], m["expr"])
            return self._summary(
                statement="ALTER", table=name,
                constraint=m["cname"], action="added",
            )
        dropped = self.wh.drop_constraint(name, m["dname"])
        if not dropped:
            raise ValueError(
                f"ALTER TABLE: {name!r} has no constraint {m['dname']!r}"
            )
        return self._summary(
            statement="ALTER", table=name,
            constraint=m["dname"], action="dropped",
        )

    def _set_tblproperties(self, name: str, props_text: str) -> DataFrame:
        """``SET TBLPROPERTIES ('k'='v', ...)`` — published into the
        table's metadata (Delta configuration / Iceberg properties).
        The Delta column-mapping enable key routes to the UPGRADE path
        (physical names + protocol), not a bare property set: setting
        the mode string without assigning physicalName/ids would corrupt
        the table for every mapping-aware reader."""
        pairs: dict[str, str] = {}
        mapping_upgrade = False
        for part in _split_top_level(props_text):
            if _MAPPING_PROP_RE.match(part):
                mapping_upgrade = True
                continue
            pm = re.match(
                r"""^\s*['"]([^'"]+)['"]\s*=\s*['"]([^'"]*)['"]\s*$""", part
            )
            if not pm:
                raise ValueError(f"unsupported TBLPROPERTIES entry: {part!r}")
            k, v = pm.group(1), pm.group(2)
            if k.lower() == "delta.columnmapping.mode":
                # only the 'name' UPGRADE is routed above; committing any
                # other mode string as a bare property would flip the
                # resolution contract without touching physicalName/ids
                # — every column reads NULL afterwards
                raise ValueError(
                    f"cannot set {k}={v!r} as a bare property: only the "
                    "'name' upgrade is supported, and mode changes after "
                    "creation are unsupported (spec)"
                )
            if k.lower().startswith("delta.constraints."):
                raise ValueError(
                    f"cannot inject {k} via SET TBLPROPERTIES — use "
                    "ALTER TABLE ADD CONSTRAINT, which validates "
                    "existing rows and raises the writer protocol"
                )
            pairs[k] = v
        if mapping_upgrade:
            self.wh.enable_column_mapping(name)
        if pairs:
            self.wh.set_table_properties(name, pairs)
        return self._summary(
            statement="ALTER", table=name, action="set_properties",
            n_properties=len(pairs) + (1 if mapping_upgrade else 0),
        )

    def _optimize(self, text: str) -> DataFrame:
        """``OPTIMIZE t [ZORDER BY (a, b, ...)]`` — the reference's
        verbatim compaction statements (TABLE OPTIMIZATION.py:33-36,
        60-63, 100). ZORDER keys map to range clustering on the key list
        (the same layout ``maintenance.DEFAULT_CLUSTERING`` uses; the
        two-integer-key Morton form stays available programmatically via
        ``maintenance.compact(zorder_by=...)``)."""
        m = _mask_match(_OPTIMIZE_RE, text)
        if not m:
            raise ValueError(f"unsupported OPTIMIZE syntax: {text!r}")
        name = m["target"]
        if not self.wh.exists(name):
            raise ValueError(f"OPTIMIZE target {name!r} is not a warehouse table")
        cols = _split_top_level(m["cols"]) if m["cols"] else []
        from ..pipeline import maintenance

        stats = maintenance.compact(self.wh, name, sort_cols=cols)
        return self._summary(
            statement="OPTIMIZE", table=name,
            # "" not None for the no-ZORDER form: _summary infers its
            # schema from this single row, and an all-NULL column has no
            # inferable type
            zorder_by=",".join(cols),
            files_before=stats["files_before"],
            files_after=stats["files_after"],
        )

    def _vacuum(self, text: str) -> DataFrame:
        """``VACUUM t [RETAIN n HOURS]`` (TABLE OPTIMIZATION.py:136-144).
        Maps to staging/trash cleanup plus, on the Delta-log backend,
        log retention (the newest two versions stay time-travelable;
        older commit JSONs fold into a checkpoint, their data files stay
        on disk). RETAIN n HOURS is accepted and recorded; log retention
        is count-based (keep_last=2) since commit timestamps, not file
        mtimes, define our retention."""
        m = _mask_match(_VACUUM_RE, text)
        if not m:
            raise ValueError(f"unsupported VACUUM syntax: {text!r}")
        name = m["target"]
        if not self.wh.exists(name):
            raise ValueError(f"VACUUM target {name!r} is not a warehouse table")
        from ..pipeline import maintenance

        staging = maintenance.vacuum(self.wh)
        dropped = (
            len(self.wh.vacuum_snapshots(name, keep_last=2))
            if hasattr(self.wh, "vacuum_snapshots")
            else 0
        )
        return self._summary(
            statement="VACUUM", table=name,
            staging_removed=staging, snapshots_dropped=dropped,
        )

    def _analyze(self, text: str) -> DataFrame:
        """``ANALYZE TABLE t COMPUTE STATISTICS`` (TABLE
        OPTIMIZATION.py:119-124): Spark's own catalog statistics when the
        table is cataloged, a no-op on the temp-view warehouse (AQE
        supplies runtime statistics there)."""
        m = _mask_match(_ANALYZE_RE, text)
        if not m:
            raise ValueError(f"unsupported ANALYZE syntax: {text!r}")
        name = m["target"]
        if not self.wh.exists(name):
            raise ValueError(f"ANALYZE target {name!r} is not a warehouse table")
        from ..pipeline import maintenance

        maintenance.analyze(self.wh, name)
        return self._summary(statement="ANALYZE", table=name)

    def _describe(self, text: str) -> DataFrame:
        """``DESCRIBE DETAIL t`` (Delta column names — the reference
        selects ``numFiles``, TABLE OPTIMIZATION.py:23-26) and
        ``DESCRIBE HISTORY t`` (Delta-log backend)."""
        m = _mask_match(_DESCRIBE_RE, text)
        if not m:
            raise ValueError(f"unsupported DESCRIBE syntax: {text!r}")
        name, kind = m["target"], m["kind"].upper()
        if not self.wh.exists(name):
            raise ValueError(f"DESCRIBE target {name!r} is not a warehouse table")
        if kind == "HISTORY":
            wh = self._versioned("DESCRIBE HISTORY")
            rows = [
                (
                    h["version"], h["timestamp_ms"], h["operation"],
                    h["num_files"], h["size_bytes"],
                )
                for h in wh.history(name)
            ]
            from ..session import tiny_df

            return tiny_df(
                self.spark, rows,
                "version long, timestamp_ms long, operation string, "
                "numFiles long, sizeBytes long",
            )
        if hasattr(self.wh, "describe_detail"):  # Delta / Iceberg backends
            d = self.wh.describe_detail(name)
        else:
            d = {
                "format": "parquet", "location": self.wh.path(name),
                **self.wh.table_stats(name),
                "partition_columns": self.wh.partition_columns(name),
                "version": None,
            }
        from ..session import tiny_df

        return tiny_df(
            self.spark,
            [(
                d["format"], d["location"], d["num_files"], d["size_bytes"],
                ",".join(d["partition_columns"]) or None, d["version"],
            )],
            "format string, location string, numFiles long, "
            "sizeInBytes long, partitionColumns string, version long",
        )

    def _restore(self, text: str) -> DataFrame:
        """``RESTORE TABLE t TO VERSION AS OF n`` (Delta RESTORE)."""
        m = _mask_match(_RESTORE_RE, text)
        if not m:
            raise ValueError(f"unsupported RESTORE syntax: {text!r}")
        wh = self._versioned("RESTORE")
        new_v = wh.restore(m["target"], int(m["version"]))
        return self._summary(
            statement="RESTORE", table=m["target"],
            restored_version=int(m["version"]), new_version=new_v,
        )

    def _rewrite_versioned_reads(self, text: str) -> str:
        """Rewrite Delta read extensions inside a pass-through statement:
        ``FROM t VERSION AS OF n`` → a temp view of that snapshot, and
        ``table_changes('t', a[, b])`` → a temp view of the change feed
        (keyless form: updates surface as delete+insert pairs — the
        snapshot-diff feed has no key knowledge at the SQL surface).
        Matching runs on the literal-masked text; slices come from the
        original."""
        masked = _mask_literals(text)
        out, edits = text, []
        for mm in _VERSION_AS_OF_RE.finditer(masked):
            wh = self._versioned("VERSION AS OF")
            name, v = text[slice(*mm.span("tbl"))], int(mm.group("v"))
            view = f"{name}__v{v}"
            wh.read_version(name, v).createOrReplaceTempView(view)
            edits.append((mm.span(), view))
        # TIMESTAMP AS OF carries a quoted literal, so match the ORIGINAL
        # text; a match starting inside some other string literal is
        # rejected via the mask
        for mm in _TIMESTAMP_AS_OF_RE.finditer(text):
            if masked[mm.start()] == "\x00":
                continue
            wh = self._versioned("TIMESTAMP AS OF")
            name = mm.group("tbl")
            view = f"{name}__asof_{re.sub(r'[^0-9A-Za-z]', '_', mm.group('ts'))}"
            wh.read_as_of_timestamp(name, mm.group("ts")) \
                .createOrReplaceTempView(view)
            edits.append((mm.span(), view))
        # table_changes takes its table name as a QUOTED literal, so this
        # one matches the ORIGINAL text; a match starting inside some
        # other string literal is rejected via the mask
        for mm in _TABLE_CHANGES_RE.finditer(text):
            if masked[mm.start()] == "\x00":
                continue
            wh = self._versioned("table_changes")
            name = mm.group("tbl")
            a = int(mm.group("from_v"))
            b = int(mm.group("to_v")) if mm.group("to_v") else None
            view = f"{name}__changes_{a}_{b if b is not None else 'latest'}"
            wh.table_changes(name, a, b).createOrReplaceTempView(view)
            edits.append((mm.span(), view))
        for (s, e), view in sorted(edits, reverse=True):
            out = out[:s] + view + out[e:]
        return out

    def _summary(self, **kv) -> DataFrame:
        return self.spark.createDataFrame(
            [tuple(str(v) if isinstance(v, str) else v for v in kv.values())],
            list(kv.keys()),
        )

    @contextmanager
    def _history_label(self, operation: str):
        """Name the commits made inside the block in the table history.
        Delta records UPDATE, DELETE and MERGE for these statements, not
        the WRITE of the rewrite that carries them out; only the
        commit-log backend keeps a history."""
        if not hasattr(self.wh, "_pending_operation"):
            yield
            return
        self.wh._pending_operation = operation
        try:
            yield
        finally:
            self.wh._pending_operation = None

    # -- UPDATE / DELETE --------------------------------------------------
    def _update(self, text: str) -> DataFrame:
        m = _mask_match(_UPDATE_RE, text)
        if not m:
            raise ValueError(f"unsupported UPDATE syntax: {text!r}")
        name = m["target"]
        if not self.wh.exists(name):
            raise ValueError(f"UPDATE target {name!r} is not a warehouse table")
        if re.search(r"\bWHERE\b", _mask_literals(m["sets"]), re.IGNORECASE):
            # a dangling/empty WHERE fails the optional where-group and
            # would otherwise fold into the last SET expression (Spark
            # happily parses "1 WHERE" as an aliased literal) — refuse
            raise ValueError(f"malformed WHERE clause in: {text!r}")
        assigns = dict(_parse_assignments(m["sets"]))
        df = self.wh.read(name)
        missing = [c for c in assigns if c not in df.columns]
        if missing:
            raise ValueError(f"UPDATE SET unknown column(s): {missing}")
        cond = F.expr(m["where"]) if m["where"] else F.lit(True)
        hit = F.coalesce(cond, F.lit(False))

        def updated_rows(src: DataFrame) -> DataFrame:
            # all SET expressions read the PRE-update row: one select, no
            # sequential withColumn (which would leak earlier assignments)
            return src.select(
                *[
                    F.when(hit, F.expr(assigns[c])).otherwise(F.col(c)).alias(c)
                    if c in assigns
                    else F.col(c)
                    for c in src.columns
                ],
                hit.alias("__hit"),
            )

        pcol = self._prunable_pcol(name, exclude=set(assigns))
        if pcol is not None:
            # partition-pruned rewrite: only partitions containing a hit
            # row are rewritten and swapped; the rest are never opened.
            # Legal because no SET touches the partition column (rows
            # cannot move partitions). At 100 TB this bounds the rewrite
            # to the touched slice, like the pruned MERGE.
            touched = self._touched_partitions(name, pcol, hit)
            if not touched:
                return self._summary(
                    statement="UPDATE", table=name, rows_updated=0
                )
            pstr = self._pstr(pcol)
            new = materialize(
                updated_rows(self.wh.read(name).filter(pstr.isin(touched))),
                StorageLevel.MEMORY_AND_DISK_DESER,
            )
            n = new.filter("__hit").count()
            with self._history_label("UPDATE"):
                self.wh._rewrite_partitions(
                    name, pcol, new.drop("__hit"), touched
                )
            return self._summary(statement="UPDATE", table=name, rows_updated=n)

        new = materialize(updated_rows(df), StorageLevel.MEMORY_AND_DISK_DESER)
        n = new.filter("__hit").count()
        with self._history_label("UPDATE"):
            self.wh.overwrite(
                new.drop("__hit"), name,
                partition_by=self.wh.partition_columns(name),
            )
        return self._summary(statement="UPDATE", table=name, rows_updated=n)

    @staticmethod
    def _pstr(pcol: str):
        # string-form partition value with hive's NULL sentinel — the
        # same normalization Warehouse.merge uses for directory matching
        return F.coalesce(
            F.col(pcol).cast("string"), F.lit("__HIVE_DEFAULT_PARTITION__")
        )

    def _prunable_pcol(self, name: str, *, exclude: set = frozenset()) -> str | None:
        """The single hive partition column of ``name`` when a
        partition-bounded rewrite is legal: exactly one level (the swap
        machinery replaces top-level dirs) and not in ``exclude``
        (an UPDATE assigning the partition column moves rows across
        partitions — full rewrite)."""
        pcols = self.wh.partition_columns(name)
        if len(pcols) == 1 and pcols[0] not in exclude:
            return pcols[0]
        return None

    def _touched_partitions(self, name: str, pcol: str, hit) -> list:
        """String-form values of ``pcol`` whose partitions contain rows
        matching ``hit`` — a column-pruned scan; when the WHERE references
        the partition column, Spark's partition pruning bounds even this
        discovery scan to the named directories."""
        return [
            r[0]
            for r in self.wh.read(name)
            .filter(hit)
            .select(self._pstr(pcol))
            .distinct()
            .collect()
        ]

    def _delete(self, text: str) -> DataFrame:
        m = _mask_match(_DELETE_RE, text)
        if not m:
            raise ValueError(f"unsupported DELETE syntax: {text!r}")
        name = m["target"]
        if not self.wh.exists(name):
            raise ValueError(f"DELETE target {name!r} is not a warehouse table")
        df = self.wh.read(name)
        cond = F.expr(m["where"]) if m["where"] else F.lit(True)
        hit = F.coalesce(cond, F.lit(False))

        pcol = self._prunable_pcol(name)
        if pcol is not None:
            # partition-pruned: only partitions holding a doomed row are
            # rewritten (a partition deleted empty is removed outright);
            # everything else is never opened
            touched = self._touched_partitions(name, pcol, hit)
            if not touched:
                return self._summary(
                    statement="DELETE", table=name, rows_deleted=0
                )
            pstr = self._pstr(pcol)
            pruned = materialize(
                df.filter(pstr.isin(touched)),
                StorageLevel.MEMORY_AND_DISK_DESER,
            )
            n_before = pruned.count()
            kept = pruned.filter(~hit)
            n_kept = kept.count()
            with self._history_label("DELETE"):
                self.wh._rewrite_partitions(name, pcol, kept, touched)
            return self._summary(
                statement="DELETE", table=name, rows_deleted=n_before - n_kept
            )

        kept = materialize(df.filter(~hit), StorageLevel.MEMORY_AND_DISK_DESER)
        n_kept = kept.count()
        n_before = df.count()
        with self._history_label("DELETE"):
            self.wh.overwrite(
                kept, name, partition_by=self.wh.partition_columns(name)
            )
        return self._summary(
            statement="DELETE", table=name, rows_deleted=n_before - n_kept
        )

    # -- DDL / INSERT (01_config_setup.py's verbatim flow) ----------------
    def _drop(self, text: str) -> DataFrame:
        m = _DROP_RE.match(text)
        if not m:
            raise ValueError(f"unsupported DROP syntax: {text!r}")
        name = m["target"]
        existed = self.wh.exists(name)
        if not existed and not m["ifexists"]:
            raise ValueError(f"DROP TABLE: {name!r} does not exist")
        self.wh.drop(name)
        self.spark.catalog.dropTempView(name)
        return self._summary(statement="DROP", table=name, dropped=existed)

    def _create(self, text: str) -> DataFrame:
        """``CREATE TABLE t (col TYPE, ...) [USING anything]`` — the
        column list parses through Spark's own DDL grammar (so LONG /
        STRING / TIMESTAMP etc. all resolve exactly as Spark would);
        the USING clause is accepted and ignored (the warehouse is the
        storage layer — the reference's ``USING DELTA`` runs verbatim)."""
        cm = _mask_match(_CLONE_RE, text)
        if cm:
            # Delta: CREATE TABLE dst SHALLOW CLONE src — a new log that
            # references the source's current files, own history from v0
            wh = self._versioned("SHALLOW CLONE")
            if wh.exists(cm["target"]) and cm["ifnot"]:
                return self._summary(
                    statement="CLONE", table=cm["target"], created=False
                )
            v = wh.clone(cm["source"], cm["target"])
            return self._summary(
                statement="CLONE", table=cm["target"],
                source=cm["source"], version=v,
            )
        cm = _mask_match(_CTAS_RE, text)
        if cm:
            # CREATE TABLE t [USING x] [PARTITIONED BY (cols)] AS SELECT —
            # the SELECT runs over the registered table views; the result
            # lands as an atomic overwrite (optionally hive-partitioned)
            name = cm["target"]
            if self.wh.exists(name):
                if cm["ifnot"]:
                    return self._summary(
                        statement="CREATE", table=name, created=False
                    )
                raise ValueError(f"CREATE TABLE: {name!r} already exists")
            self.wh.register_views()
            df = self.spark.sql(self._rewrite_versioned_reads(cm["select"]))
            pcols = _split_top_level(cm["pcols"]) if cm["pcols"] else []
            missing = [c for c in pcols if c not in df.columns]
            if missing:
                raise ValueError(
                    f"PARTITIONED BY columns {missing} not in the SELECT "
                    f"output {df.columns}"
                )
            self.wh.overwrite(df, name, partition_by=pcols)
            return self._summary(
                statement="CREATE", table=name, created=True,
                partitioned_by=",".join(pcols),
            )
        m = _mask_match(_CREATE_RE, text)
        if not m:
            raise ValueError(f"unsupported CREATE TABLE syntax: {text!r}")
        name = m["target"]
        if self.wh.exists(name):
            if m["ifnot"]:
                return self._summary(statement="CREATE", table=name, created=False)
            raise ValueError(f"CREATE TABLE: {name!r} already exists")
        from pyspark.sql.types import StructType

        schema = StructType.fromDDL(m["cols"])
        from ..session import tiny_df

        empty = tiny_df(self.spark, [], schema)
        self.wh.overwrite(empty, name)
        return self._summary(statement="CREATE", table=name, created=True)

    def _insert(self, text: str) -> DataFrame:
        m = _mask_match(_INSERT_RE, text)
        if not m:
            raise ValueError(f"unsupported INSERT syntax: {text!r}")
        name = m["target"]
        if not self.wh.exists(name):
            raise ValueError(f"INSERT target {name!r} is not a warehouse table")
        target_schema = self.wh.read(name).schema
        if m["select"]:
            self.wh.register_views()
            rows = self.spark.sql(m["select"])
        else:
            # VALUES (...), (...): evaluate each tuple's expressions with
            # Spark SQL semantics (TIMESTAMP literals, current_timestamp())
            tuples = _split_top_level(m["values"])
            parts = []
            for tup in tuples:
                tup = tup.strip()
                if not (tup.startswith("(") and tup.endswith(")")):
                    raise ValueError(f"malformed VALUES tuple: {tup!r}")
                exprs = _split_top_level(tup[1:-1])
                if len(exprs) != len(target_schema):
                    raise ValueError(
                        f"INSERT VALUES arity {len(exprs)} != table width "
                        f"{len(target_schema)}"
                    )
                parts.append(
                    self.spark.range(1).select(
                        *[F.expr(e).alias(f.name)
                          for e, f in zip(exprs, target_schema.fields)]
                    )
                )
            rows = parts[0]
            for p in parts[1:]:
                rows = rows.unionByName(p)
        if len(rows.columns) != len(target_schema):
            raise ValueError(
                f"INSERT column count {len(rows.columns)} != table width "
                f"{len(target_schema)}"
            )
        aligned = rows.select(
            *[
                F.col(c).cast(f.dataType).alias(f.name)
                for c, f in zip(rows.columns, target_schema.fields)
            ]
        )
        n = aligned.count()
        if m["replwhere"]:
            # Delta SQL: INSERT INTO t REPLACE WHERE <cond> SELECT ... —
            # the predicate-scoped overwrite, capability-checked like
            # the other Delta-only façade verbs
            if m["over"]:
                raise ValueError(
                    "INSERT OVERWRITE cannot combine with REPLACE WHERE"
                )
            fn = getattr(self.wh, "overwrite_where", None)
            if fn is None:
                raise ValueError(
                    "REPLACE WHERE needs a Delta-log-backed warehouse "
                    f"({type(self.wh).__name__} has no overwrite_where)"
                )
            fn(aligned, name, m["replwhere"].strip())
            return self._summary(
                statement="INSERT_REPLACE_WHERE", table=name,
                rows_inserted=n,
            )
        if m["over"]:
            # INSERT OVERWRITE [TABLE] t: atomic full replace, preserving
            # the table's hive layout (Warehouse.overwrite's contract)
            self.wh.overwrite(aligned, name)
            return self._summary(
                statement="INSERT_OVERWRITE", table=name, rows_inserted=n
            )
        self.wh.append(aligned, name)
        return self._summary(statement="INSERT", table=name, rows_inserted=n)

    def _copy_into(self, text: str) -> DataFrame:
        """``COPY INTO t FROM '<path>' FILEFORMAT = PARQUET [PATTERN =
        '<glob>'] [FORCE = TRUE]`` — idempotent file-level ingest
        (Warehouse.copy_into): already-loaded files skip, re-runs load
        exactly the new arrivals."""
        m = _mask_match(_COPY_RE, text)
        if not m:
            raise ValueError(f"unsupported COPY INTO syntax: {text!r}")
        out = self.wh.copy_into(
            m["target"], m["src"],
            fmt=m["fmt"].lower(),
            pattern=m["pattern"],
            force=bool(m["force"]) and m["force"].upper() == "TRUE",
        )
        return self._summary(
            statement="COPY_INTO", table=m["target"],
            files_loaded=out["files_loaded"],
            rows_inserted=out["rows_loaded"],
        )

    # -- MERGE ------------------------------------------------------------
    def _resolve_source(self, name: str) -> DataFrame:
        """USING source: temp view first (the reference's
        ``silver_updates`` pattern), then warehouse table."""
        if any(
            t.name == name for t in self.spark.catalog.listTables()
        ):
            return self.spark.table(name)
        if self.wh.exists(name):
            return self.wh.read(name)
        raise ValueError(
            f"MERGE source {name!r} is neither a temp view nor a warehouse table"
        )

    def _merge(self, text: str) -> DataFrame:
        m = _mask_match(_MERGE_RE, text)
        if not m:
            raise ValueError(f"unsupported MERGE syntax: {text!r}")
        name = m["target"]
        talias = m["talias"] or name
        salias = m["salias"] or m["source"]
        source = self._resolve_source(m["source"])

        # the matches must tile the whole clause region — any gap means
        # syntax the grammar did not understand; refuse loudly, never
        # silently drop a clause
        clause_text = m["clauses"].strip()
        parsed, pos = [], 0
        # finditer over the MASKED clauses (so WHEN/THEN inside string
        # literals are invisible), slicing each group from the original
        # text by span — the mask is length-preserving.
        for mm in _WHEN_RE.finditer(_mask_literals(clause_text)):
            if clause_text[pos : mm.start()].strip():
                raise ValueError(
                    "unparsed MERGE clause text: "
                    f"{clause_text[pos:mm.start()].strip()!r}"
                )
            is_not = mm.group("not")
            by = (mm.group("by") or "").upper()
            if by and not is_not:
                raise ValueError(
                    "MERGE: BY SOURCE/TARGET only applies to "
                    "WHEN NOT MATCHED clauses"
                )
            # Delta's extension: NOT MATCHED BY SOURCE acts on TARGET
            # rows with no source match; BY TARGET is the plain
            # NOT MATCHED synonym
            cat = (
                "by_source"
                if (is_not and by == "SOURCE")
                else ("not_matched" if is_not else "matched")
            )
            cs, ce = mm.span("cond")
            cond = clause_text[cs:ce] if cs != -1 else None
            action = clause_text[slice(*mm.span("action"))]
            parsed.append(
                (cat, (cond or "").strip() or None, action.strip())
            )
            pos = mm.end()
        if clause_text[pos:].strip():
            raise ValueError(
                f"unparsed MERGE clause text: {clause_text[pos:].strip()!r}"
            )
        if not parsed:
            raise ValueError(f"no WHEN clauses parsed in: {text!r}")

        keys = _parse_equi_keys(m["on"], talias, salias)

        # fast path + first-write path: the reference's exact
        # "SET * / INSERT *" unconditional pair is Warehouse.merge verbatim
        simple = (
            len(parsed) == 2
            and {p[0] for p in parsed} == {"matched", "not_matched"}
            and all(p[1] is None for p in parsed)
            and all(
                re.fullmatch(
                    r"UPDATE\s+SET\s+\*|INSERT\s+\*", p[2], re.IGNORECASE
                )
                for p in parsed
            )
        )
        self._check_key_unique(source, keys)
        if simple:
            # auto-prune: on a single-level hive-partitioned target whose
            # partition column the source carries, only the touched
            # partitions rewrite (Warehouse.merge's pruned path, movers
            # included) — Delta MERGE's file pruning, applied to the
            # reference's verbatim statement without the user asking
            prune = None
            if self.wh.exists(name):
                pcols = self.wh.partition_columns(name)
                if len(pcols) == 1 and pcols[0] in source.columns:
                    prune = pcols[0]
            self.wh.merge(
                source, name, keys, prune_partition_col=prune,
                merge_schema=bool(m["evolve"]),
            )
            return self._summary(
                statement="MERGE", table=name, source_rows=source.count()
            )
        if m["evolve"]:
            raise ValueError(
                "MERGE WITH SCHEMA EVOLUTION supports only the "
                "unconditional UPDATE SET * / INSERT * pair here"
            )
        if not self.wh.exists(name):
            raise ValueError(
                f"MERGE target {name!r} does not exist; conditional MERGE "
                "cannot define its schema — create the table first"
            )
        return self._general_merge(name, source, keys, talias, salias, parsed)

    def _check_key_unique(self, source: DataFrame, keys: list[str]) -> None:
        """Reject a source where one key tuple would match one target row
        more than once. NULL-keyed rows are EXCLUDED from the check: the
        equi-join can never match them to a target row (NULL = x is never
        true), so they always take the NOT MATCHED insert path — Delta
        accepts them, and count_distinct (which skips NULL tuples) used
        to flag them spuriously."""
        nonnull = source.select(*keys).na.drop(how="any", subset=keys)
        worst = (
            nonnull.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.max("n").alias("mx"))
            .collect()[0]["mx"]
        )
        if worst is not None and worst > 1:
            raise ValueError(
                "MERGE source is not key-unique on "
                f"{keys} (a key tuple appears {worst} times): "
                "multiple source rows would match one target row"
            )

    def _general_merge(
        self,
        name: str,
        source: DataFrame,
        keys: list[str],
        talias: str,
        salias: str,
        parsed: list[tuple[str, str | None, str]],
    ) -> DataFrame:
        """Conditional / explicit-assignment MERGE as one join + union +
        atomic overwrite. Matched pairs evaluate WHEN MATCHED clauses
        first-match-wins; unmatched source rows evaluate WHEN NOT MATCHED
        clauses the same way; WHEN NOT MATCHED BY SOURCE clauses act on
        target rows with no source match (Delta's extension); unmatched
        target rows no clause claimed pass through unchanged."""
        target = self.wh.read(name).alias(talias)
        src = source.alias(salias)
        tcols = self.wh.read(name).columns

        on = [F.col(f"{talias}.{k}") == F.col(f"{salias}.{k}") for k in keys]
        pairs = materialize(
            target.join(src, on, "inner"), StorageLevel.MEMORY_AND_DISK_DESER
        )

        def set_star():
            return [F.col(f"{salias}.{c}").alias(c) for c in tcols]

        def set_assignments(assigns: dict[str, str]):
            missing = [c for c in assigns if c not in tcols]
            if missing:
                raise ValueError(f"UPDATE SET unknown column(s): {missing}")
            return [
                F.expr(assigns[c]).alias(c)
                if c in assigns
                else F.col(f"{talias}.{c}").alias(c)
                for c in tcols
            ]

        matched = [(c, a) for cat, c, a in parsed if cat == "matched"]
        unmatched = [(c, a) for cat, c, a in parsed if cat == "not_matched"]
        bysource = [(c, a) for cat, c, a in parsed if cat == "by_source"]

        # matched pairs, first-match-wins
        updated_parts, claimed = [], None  # claimed: pairs any clause applied to
        prior = F.lit(False)
        for cond, action in matched:
            this = F.coalesce(F.expr(cond), F.lit(False)) if cond else F.lit(True)
            eligible = this & ~prior
            act = action.upper()
            if act.startswith("UPDATE"):
                body = re.match(
                    r"UPDATE\s+SET\s+(.*)$", action, re.IGNORECASE | re.DOTALL
                ).group(1)
                if body.strip() == "*":
                    sel = set_star()
                else:
                    sel = set_assignments(dict(_parse_assignments(body)))
                updated_parts.append(pairs.filter(eligible).select(*sel))
            elif act == "DELETE":
                pass  # claimed below removes the row; nothing re-emitted
            else:
                raise ValueError(f"unsupported WHEN MATCHED action: {action!r}")
            prior = prior | this
        claimed_keys = (
            pairs.filter(prior)
            .select(*[F.col(f"{talias}.{k}").alias(k) for k in keys])
            .distinct()
        )

        # unmatched target rows + matched-but-unclaimed rows stay
        kept = self.wh.read(name).join(claimed_keys, on=keys, how="left_anti")

        if bysource:
            # Delta's WHEN NOT MATCHED BY SOURCE: TARGET rows with no
            # source key match, first-match-wins; DELETE drops the row,
            # UPDATE SET re-emits it modified (source columns are out of
            # scope — no source row exists, so SET * refuses)
            unmatched_tgt = (
                self.wh.read(name)
                .join(src.select(*keys), on=keys, how="left_anti")
                .alias(talias)
            )
            prior = F.lit(False)
            for cond, action in bysource:
                this = (
                    F.coalesce(F.expr(cond), F.lit(False))
                    if cond
                    else F.lit(True)
                )
                eligible = this & ~prior
                act = action.upper()
                if act.startswith("UPDATE"):
                    body = re.match(
                        r"UPDATE\s+SET\s+(.*)$", action,
                        re.IGNORECASE | re.DOTALL,
                    ).group(1)
                    if body.strip() == "*":
                        raise ValueError(
                            "WHEN NOT MATCHED BY SOURCE cannot UPDATE "
                            "SET * — there is no source row in scope"
                        )
                    sel = set_assignments(dict(_parse_assignments(body)))
                    updated_parts.append(
                        unmatched_tgt.filter(eligible).select(*sel)
                    )
                elif act == "DELETE":
                    pass  # claiming removes the row; nothing re-emitted
                else:
                    raise ValueError(
                        "unsupported WHEN NOT MATCHED BY SOURCE action: "
                        f"{action!r}"
                    )
                prior = prior | this
            # null-SAFE claim removal (NULL-keyed target rows are
            # legitimately 'not matched by source'); claimed keys are
            # RENAMED per side — kept and the claim share read lineage,
            # and a same-name equality would degenerate trivially true
            ck = (
                unmatched_tgt.filter(prior)
                .select(
                    *[
                        F.col(f"{talias}.{k}").alias(f"__bs_{k}")
                        for k in keys
                    ]
                )
                .distinct()
            )
            anti = None
            for k in keys:
                c = F.col(k).eqNullSafe(F.col(f"__bs_{k}"))
                anti = c if anti is None else anti & c
            kept = kept.join(ck, anti, "left_anti")

        # unmatched source rows, first-match-wins
        new_src = src.join(
            self.wh.read(name).select(*keys), on=keys, how="left_anti"
        ).alias(salias)
        inserted_parts = []
        prior = F.lit(False)
        for cond, action in unmatched:
            this = F.coalesce(F.expr(cond), F.lit(False)) if cond else F.lit(True)
            eligible = this & ~prior
            mm = re.match(
                r"INSERT\s*(?:\*|\(\s*(?P<cols>[^)]*)\)\s*VALUES\s*\(\s*(?P<vals>.*)\)\s*)$",
                action,
                re.IGNORECASE | re.DOTALL,
            )
            if not mm:
                raise ValueError(f"unsupported WHEN NOT MATCHED action: {action!r}")
            if mm["cols"] is None:
                sel = [F.col(f"{salias}.{c}").alias(c) for c in tcols]
            else:
                cols = [c.strip().split(".")[-1] for c in _split_top_level(mm["cols"])]
                vals = _split_top_level(mm["vals"])
                if len(cols) != len(vals):
                    raise ValueError(
                        f"INSERT column/value count mismatch: {action!r}"
                    )
                given = dict(zip(cols, vals))
                bad = [c for c in given if c not in tcols]
                if bad:
                    raise ValueError(f"INSERT unknown column(s): {bad}")
                sel = [
                    F.expr(given[c]).alias(c)
                    if c in given
                    else F.lit(None).alias(c)
                    for c in tcols
                ]
            inserted_parts.append(new_src.filter(eligible).select(*sel))
            prior = prior | this

        out = kept
        for part in updated_parts + inserted_parts:
            out = out.unionByName(part)
        n_before = self.wh.read(name).count()
        with self._history_label("MERGE"):
            self.wh.overwrite(out, name)
        n_after = self.wh.read(name).count()
        return self._summary(
            statement="MERGE",
            table=name,
            rows_before=n_before,
            rows_after=n_after,
        )
