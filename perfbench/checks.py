"""Output checks computed apart from the program.

Each expected value comes from DuckDB SQL over the generated parquet
tables (or, for the headline queries, from the registry's own DuckDB
oracles through ``tools/check_queries.py``), never from a stored copy of an
earlier output. Each oracle computes its expected values once per input;
its ``check`` returns a list of problems, empty when the output is
correct. The checks are untimed.
"""

from __future__ import annotations

import csv

import duckdb

NAME_TYPES = (("full", "Fully specified name", "FULLY_SPECIFIED"),
              ("short", "Short name", "SHORT"))
MAP_TYPES = ("SAME-AS", "NARROWER-THAN", "BROADER-THAN")
SOURCES = (
    "PIH|Name", "PIH|Number", "CIEL", "AMPATH", "ICD-10-WHO",
    "ICD-10-WHO 2nd", "ICD-11-WHO", "Liberia MoH", "LOINC",
    "org.openmrs.module.emrapi", "PIH Malawi", "RxNORM", "SES Lab",
    "SNOMED CT", "SNOMED UK",
)
NUMERIC = (("hi_absolute", "Absolute high"), ("hi_critical", "Critical high"),
           ("hi_normal", "Normal high"), ("low_absolute", "Absolute low"),
           ("low_critical", "Critical low"), ("low_normal", "Normal low"),
           ("units", "Units"), ("display_precision", "Display precision"),
           ("allow_decimal", "Allow decimals"))


def connect(table_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'")
    return con


def read_csv(path: str) -> tuple[list[str], list[dict]]:
    with open(path, newline="", encoding="utf-8") as f:
        r = csv.reader(f)
        header = next(r)
        return header, [dict(zip(header, row)) for row in r]


def _cell(v) -> str:
    return "" if v is None else str(v)


def _quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


class ConceptOracle:
    """Expected concepts-export content for one dictionary and locale list,
    computed once and compared against any number of exports."""

    def __init__(self, table_dir: str, locales: list[str]):
        from gen_dictionary import SCHEMAS

        self.con = connect(table_dir, SCHEMAS)
        self.locales = locales
        self.default = locales[0]
        self.name_headers = [f"{label}:{loc}" for loc in locales
                             for _, label, _ in NAME_TYPES]
        self.initial = (["uuid", "Void/Retire"] + self.name_headers
                        + [f"Description:{self.default}", "Data class",
                           "Data type", "Answers", "Members"])
        self.map_headers = [f"Mappings|{mt}|{src}" for src in SOURCES
                            for mt in MAP_TYPES]
        self.other = (self.map_headers + [h for _, h in NUMERIC]
                      + ["Complex data handler"])
        self.expected = self._expected_rows()
        self.uuid_of = {r["_id"]: r["uuid"] for r in self.expected.values()}
        # referrer -> referents as exported cells name them: live children
        # with a non-voided FSN in the default locale
        self.edges = self.con.execute(f"""
            SELECT DISTINCT e.parent, e.child FROM (
                SELECT concept_set AS parent, concept_id AS child
                FROM concept_set
                UNION ALL
                SELECT concept_id, answer_concept FROM concept_answer) e
            JOIN concept c ON c.concept_id = e.child AND c.retired = 0
            JOIN concept_name n ON n.concept_id = e.child
                AND n.locale = {_quote(self.default)}
                AND n.concept_name_type = 'FULLY_SPECIFIED' AND n.voided = 0
        """).fetchall()

    def _expected_rows(self) -> dict[str, dict]:
        d = _quote(self.default)
        name_cols = ",\n".join(
            f"max(name) FILTER (WHERE locale = {_quote(loc)} AND "
            f"concept_name_type = '{sql}') AS \"{label}:{loc}\""
            for loc in self.locales for _, label, sql in NAME_TYPES)
        map_cols = ",\n".join(
            f"string_agg(DISTINCT code, ';' ORDER BY code) FILTER (WHERE "
            f"spec = {_quote(src)} AND mt = {_quote(mt)}) AS \"{h}\""
            for h, (src, mt) in zip(
                self.map_headers,
                [(s, m) for s in SOURCES for m in MAP_TYPES]))
        num_cols = ", ".join(f"cn.{c} AS \"{h}\"" for c, h in NUMERIC)

        def rollup(edge_sql: str) -> str:
            # min sort weight per distinct child name, ties by the name
            return f"""
                SELECT parent, string_agg(name, ';' ORDER BY w, name) AS v
                FROM (SELECT e.parent, n.name, min(e.w) AS w
                      FROM ({edge_sql}) e
                      JOIN concept c ON c.concept_id = e.child
                          AND c.retired = 0
                      JOIN concept_name n ON n.concept_id = e.child
                          AND n.locale = {d} AND n.voided = 0
                          AND n.concept_name_type = 'FULLY_SPECIFIED'
                      GROUP BY e.parent, n.name)
                GROUP BY parent"""

        sql = f"""
        WITH names AS (
            SELECT concept_id, {name_cols} FROM concept_name
            WHERE voided = 0 GROUP BY concept_id),
        descs AS (
            SELECT concept_id,
                   max(regexp_replace(description, '[\\r\\n]', '', 'g')) AS v
            FROM concept_description WHERE locale = {d} GROUP BY concept_id),
        terms AS (
            SELECT crm.concept_id, mt.name AS mt, crt.code,
                   CASE WHEN src.name <> 'PIH' THEN src.name
                        WHEN coalesce(TRY_CAST(regexp_extract(
                            crt.code, '^\\s*\\+?([0-9]+)', 1) AS HUGEINT), 0)
                            <> 0 THEN 'PIH|Number'
                        ELSE 'PIH|Name' END AS spec
            FROM concept_reference_map crm
            JOIN concept_map_type mt
              ON mt.concept_map_type_id = crm.concept_map_type_id
            JOIN concept_reference_term crt
              ON crt.concept_reference_term_id = crm.concept_reference_term_id
             AND crt.retired = 0
            JOIN concept_reference_source src
              ON src.concept_source_id = crt.concept_source_id),
        maps AS (SELECT concept_id, {map_cols} FROM terms GROUP BY concept_id),
        members AS ({rollup('''SELECT concept_set AS parent,
                    concept_id AS child, sort_weight AS w FROM concept_set''')}),
        answers AS ({rollup('''SELECT concept_id AS parent,
                    answer_concept AS child, sort_weight AS w
                    FROM concept_answer''')})
        SELECT c.concept_id AS _id, c.uuid, cl.name AS "Data class",
               dt.name AS "Data type", descs.v AS "Description:{self.default}",
               members.v AS "Members", answers.v AS "Answers",
               cx.handler AS "Complex data handler", {num_cols},
               names.* EXCLUDE (concept_id), maps.* EXCLUDE (concept_id)
        FROM concept c
        JOIN concept_class cl ON cl.concept_class_id = c.class_id
        JOIN concept_datatype dt ON dt.concept_datatype_id = c.datatype_id
        LEFT JOIN names USING (concept_id)
        LEFT JOIN descs USING (concept_id)
        LEFT JOIN maps USING (concept_id)
        LEFT JOIN members ON members.parent = c.concept_id
        LEFT JOIN answers ON answers.parent = c.concept_id
        LEFT JOIN concept_numeric cn ON cn.concept_id = c.concept_id
        LEFT JOIN concept_complex cx ON cx.concept_id = c.concept_id
        WHERE c.retired = 0
        """
        cur = self.con.execute(sql)
        cols = [x[0] for x in cur.description]
        out = {}
        for row in cur.fetchall():
            r = {c: (v if c == "_id" else _cell(v)) for c, v in zip(cols, row)}
            r["Void/Retire"] = ""
            out[r["uuid"]] = r
        return out

    def closure(self, root_name: str) -> set[str]:
        """uuids reachable from the live concept whose default-locale FSN
        is ``root_name``, by a recursive CTE over the exported edges."""
        d = _quote(self.default)
        rows = self.con.execute(f"""
            WITH RECURSIVE edges AS (
                SELECT * FROM (VALUES {", ".join(
                    f"({p}, {c})" for p, c in self.edges) or "(NULL, NULL)"})
                    AS t(parent, child)),
            reach(id) AS (
                SELECT c.concept_id FROM concept c
                JOIN concept_name n ON n.concept_id = c.concept_id
                 AND n.locale = {d} AND n.voided = 0
                 AND n.concept_name_type = 'FULLY_SPECIFIED'
                WHERE c.retired = 0 AND n.name = {_quote(root_name)}
                UNION
                SELECT e.child FROM reach JOIN edges e ON e.parent = reach.id)
            SELECT id FROM reach""").fetchall()
        return {self.uuid_of[i] for (i,) in rows}

    def check(self, path: str, subset_root: str | None = None) -> list[str]:
        header, rows = read_csv(path)
        problems = []
        uuids = [r.get("uuid", "") for r in rows]
        want = (self.closure(subset_root) if subset_root
                else set(self.expected))
        if len(set(uuids)) != len(uuids):
            problems.append(f"{len(uuids) - len(set(uuids))} duplicate rows")
        if set(uuids) != want:
            problems.append(
                f"rows: {len(want - set(uuids))} missing, "
                f"{len(set(uuids) - want)} unexpected")
        kept = [self.expected[u] for u in want]
        cols = [h for h in self.initial + self.other
                if h == "Void/Retire" or any(r.get(h) for r in kept)]
        if header != cols:
            problems.append(f"header {header} != expected {cols}")
        for r in rows:
            exp = self.expected.get(r.get("uuid"))
            if exp is None:
                continue
            bad = [h for h in header if r[h] != exp.get(h, "")]
            if bad:
                problems.append(f"row {r['uuid']}: cells differ in {bad[:3]}")
                break
        pos = {u: i for i, u in enumerate(uuids)}
        for parent, child in self.edges:
            p, c = self.uuid_of.get(parent), self.uuid_of.get(child)
            if p in pos and c in pos and pos[c] > pos[p]:
                problems.append(f"row {p} precedes its referent {c}")
                break
        return problems


class FacilityOracle:
    """Expected locations, order-type and location-hierarchy exports."""

    def __init__(self, table_dir: str):
        from gen_facility import SCHEMAS

        self.con = connect(table_dir, SCHEMAS)
        attr_types = [a for (a,) in self.con.execute(
            "SELECT DISTINCT t.name FROM location_attribute a "
            "JOIN location_attribute_type t ON t.location_attribute_type_id "
            "= a.attribute_type_id ORDER BY 1").fetchall()]
        tags = [t for (t,) in self.con.execute(
            "SELECT DISTINCT t.name FROM location_tag_map m JOIN location_tag "
            "t USING (location_tag_id) ORDER BY 1").fetchall()]
        attr_cols = ", ".join(
            f"max(a.value_reference) FILTER (WHERE t.name = {_quote(n)})"
            for n in attr_types) or "NULL"
        tag_cols = ", ".join(
            f"max('TRUE') FILTER (WHERE g.name = {_quote(n)})"
            for n in tags) or "NULL"
        self.locations = self._table(
            ["UUID", "Void/Retire", "Name", "Description", "Parent"]
            + [f"Attribute|{a}" for a in attr_types]
            + [f"Tag|{t}" for t in tags],
            f"""
            WITH at AS (SELECT a.location_id, {attr_cols} FROM
                        location_attribute a JOIN location_attribute_type t
                        ON t.location_attribute_type_id = a.attribute_type_id
                        GROUP BY a.location_id),
                 tg AS (SELECT m.location_id, {tag_cols} FROM
                        location_tag_map m JOIN location_tag g
                        USING (location_tag_id) GROUP BY m.location_id)
            SELECT l.uuid, l.retired, l.name, l.description, p.name,
                   at.* EXCLUDE (location_id), tg.* EXCLUDE (location_id)
            FROM location l LEFT JOIN location p
              ON l.parent_location = p.location_id
            LEFT JOIN at ON at.location_id = l.location_id
            LEFT JOIN tg ON tg.location_id = l.location_id
            ORDER BY l.location_id""")
        self.location_tree = self._table(
            ["Uuid", "Void/Retire", "Name", "Description", "Parent"], """
            SELECT l.uuid, l.retired, l.name, l.description, p.uuid
            FROM location l LEFT JOIN location p
              ON l.parent_location = p.location_id
            ORDER BY l.location_id""")
        self.order_types = self._table(
            ["Uuid", "Void/Retire", "Name", "Description", "Java class name",
             "Parent"], """
            SELECT o.uuid, o.retired, o.name, o.description,
                   o.java_class_name, p.uuid
            FROM order_type o LEFT JOIN order_type p
              ON o.parent = p.order_type_id
            ORDER BY o.order_type_id""")

    def _table(self, header: list[str], sql: str) -> tuple[list[str], list]:
        rows = self.con.execute(sql).fetchall()
        return header, [[_cell(v) for v in r] for r in rows]

    @staticmethod
    def check(path: str, expected: tuple[list[str], list]) -> list[str]:
        header, rows = read_csv(path)
        want_header, want_rows = expected
        problems = []
        if header != want_header:
            problems.append(f"header {header} != expected {want_header}")
            return problems
        got = [[r[h] for h in header] for r in rows]
        if len(got) != len(want_rows):
            problems.append(f"{len(got)} rows, expected {len(want_rows)}")
        for i, (g, w) in enumerate(zip(got, want_rows)):
            if g != w:
                problems.append(f"row {i}: {g} != expected {w}")
                break
        return problems


class QueryOracle:
    """The registry's DuckDB oracle for each headline query, compared with
    the canonical comparison of ``tools/check_queries.py``."""

    def __init__(self, table_dir: str, tables):
        import os
        import sys

        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        sys.path.insert(0, os.path.join(root, "tools"))
        import check_queries
        from iniz_exporters_spark.queries import REGISTRY

        self.cq = check_queries
        self.registry = REGISTRY
        self.con = connect(table_dir, tables)

    def check(self, name: str, columns: list[str], rows) -> list[str]:
        res = self.con.execute(self.registry[name].oracle)
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        if sorted(columns) != sorted(ocols):
            return [f"{name}: columns {sorted(columns)} != {sorted(ocols)}"]
        if self.cq.canon(rows, columns) != self.cq.canon(orows, ocols):
            return [f"{name}: {len(rows)} rows differ from the oracle's "
                    f"{len(orows)}"]
        return []
