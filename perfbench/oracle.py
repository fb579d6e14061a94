"""Independent expected results, computed by DuckDB over the generated files.

Nothing here imports the engine: the expectations restate the validation
semantics (JSON-Schema row checks, first-writer-wins uniqueness over
row-check survivors in corpus order, FK probes of the survivors of pass 1
against the target's primary keys, orphans ignored) in SQL, plus one
sequential loop for the array-member unique constraint, whose collision
rule is order-dependent.

Each function returns ``{"docs", "failed_docs", "ignored_docs",
"violations", "by_check": {"check_id@schema_id": rows}, "registry_rows"}``.
"""

from __future__ import annotations

import duckdb

from gen import BIO_TYPES, FORMATS, LANGS, SAMPLE, TRACK


def _in(values: list[str]) -> str:
    return "(" + ", ".join(f"'{v}'" for v in values) + ")"


def _expected(con, failed_sql: str, by_check: dict[str, int],
              ignored: int, registry_rows: int) -> dict:
    docs, failed = con.execute(failed_sql).fetchone()
    by_check = {k: int(v) for k, v in by_check.items() if v}
    return {
        "docs": int(docs),
        "failed_docs": int(failed),
        "ignored_docs": int(ignored),
        "violations": sum(by_check.values()),
        "by_check": by_check,
        "registry_rows": int(registry_rows),
    }


PAGES = "pages/1.0"


def pages_expected(path: str) -> dict:
    """``pages/1.0`` (``sources.pages.pages_schema_dict``) over parquet."""
    con = duckdb.connect()
    try:
        con.execute(f"""
            CREATE TEMP TABLE p AS
            SELECT page_id AS n, url,
                   url IS NULL AS f_req_url,
                   warc_ts IS NULL AS f_req_ts,
                   coalesce(NOT regexp_matches(url, '^https?://'), false)
                     AS f_pat_url,
                   coalesce(lang NOT IN {_in(LANGS)}, false) AS f_enum_lang,
                   coalesce(length(text) < 1, false) AS f_len_text
            FROM read_parquet('{path}/*.parquet')""")
        con.execute("""
            CREATE TEMP TABLE ok AS
            SELECT n, url FROM p
            WHERE NOT (f_req_url OR f_req_ts OR f_pat_url OR f_enum_lang
                       OR f_len_text)""")
        con.execute("""
            CREATE TEMP TABLE dup AS
            SELECT n FROM (
              SELECT n, row_number() OVER (PARTITION BY url ORDER BY n) AS rk
              FROM ok WHERE url IS NOT NULL) WHERE rk > 1""")
        row = con.execute("""
            SELECT sum(f_req_url::INT), sum(f_req_ts::INT),
                   sum(f_pat_url::INT), sum(f_enum_lang::INT),
                   sum(f_len_text::INT),
                   (SELECT count(*) FROM dup),
                   (SELECT count(DISTINCT url) FROM ok)
            FROM p""").fetchone()
        by_check = {
            f"{cid}@{PAGES}": v for cid, v in zip(
                ["required:url", "required:warc_ts", "pattern:url",
                 "enum:lang", "minLength:text", "pk"], row[:6])
        }
        return _expected(con, """
            SELECT count(*), count(*) FILTER (
              WHERE f_req_url OR f_req_ts OR f_pat_url OR f_enum_lang
                 OR f_len_text OR n IN (SELECT n FROM dup))
            FROM p""", by_check, 0, row[6])
    finally:
        con.close()


_CATALOG_COLUMNS = {
    "_n": "BIGINT",
    "@schema": "VARCHAR",
    "fair_tracks": 'STRUCT("@schema" VARCHAR)',
    "sample_id": "VARCHAR",
    "local_id": "VARCHAR",
    "biosample": "STRUCT(term VARCHAR, type VARCHAR)",
    "track_id": "VARCHAR",
    "sample_ref": "VARCHAR",
    "control_ref": "VARCHAR",
    "files": "STRUCT(md5 VARCHAR, format VARCHAR)[]",
}

# (check_id, failure predicate) per schema, in the engine's check-id naming
_ROW_CHECKS = {
    SAMPLE: [
        ("required:sample_id", "sample_id IS NULL"),
        ("required:local_id", "local_id IS NULL"),
        ("pattern:sample_id",
         "coalesce(NOT regexp_matches(sample_id, '^S[0-9]+$'), false)"),
        ("enum:biosample.type",
         f"coalesce(biosample.type NOT IN {_in(BIO_TYPES)}, false)"),
    ],
    TRACK: [
        ("required:track_id", "track_id IS NULL"),
        ("required:sample_ref", "sample_ref IS NULL"),
        ("required:files", "files IS NULL"),
        ("minItems:files", "coalesce(len(files) < 1, false)"),
        ("pattern:files[].md5",
         "coalesce(NOT list_bool_and(list_transform(files, f -> "
         "coalesce(regexp_matches(f.md5, '^[0-9a-f]{32}$'), true))), false)"),
        ("enum:files[].format",
         "coalesce(NOT list_bool_and(list_transform(files, f -> "
         f"coalesce(f.format IN {_in(FORMATS)}, true))), false)"),
    ],
}

# flat unique constraints: (schema, check_id, key expression over non-null
# members)
_FLAT_UNIQUES = [
    (SAMPLE, "pk", "sample_id"),
    (SAMPLE, "unique", "biosample.term || chr(0) || local_id"),
    (TRACK, "pk", "track_id"),
]
# (schema, check_id, member, target schema, target key column)
_FKS = [
    (TRACK, "fk:.:0", "sample_ref", SAMPLE, "sample_id"),
    (TRACK, "fk:.:1", "control_ref", SAMPLE, "sample_id"),
]
FANOUT_CHECK = "u_files[].md5"


def _fanout_collisions(con) -> list[tuple[int, int]]:
    """(doc, colliding key rows) for the ``files[].md5`` unique constraint:
    documents in corpus order; a document collides when one of its keys was
    recorded by an earlier non-colliding document, and a colliding document
    records none of its keys."""
    rows = con.execute(f"""
        SELECT n, list_filter(list_transform(files, f -> f.md5),
                              m -> m IS NOT NULL)
        FROM c WHERE sid = '{TRACK}' AND ok ORDER BY n""").fetchall()
    recorded: set[str] = set()
    out = []
    for n, keys in rows:
        hits = sum(1 for k in keys if k in recorded)
        if hits:
            out.append((n, hits))
        else:
            recorded.update(keys)
    return out


def catalog_expected(path: str) -> dict:
    """The two-schema JSON-lines corpus of ``gen.write_catalog``."""
    cols = ", ".join(f"'{k}': '{v}'" for k, v in _CATALOG_COLUMNS.items())
    con = duckdb.connect()
    try:
        fails = []
        for sid, checks in _ROW_CHECKS.items():
            for cid, pred in checks:
                fails.append(f"CASE WHEN sid = '{sid}' AND {pred} "
                             f"THEN '{cid}' END")
        con.execute(f"""
            CREATE TEMP TABLE c AS
            SELECT *, len(fails) = 0 AS ok FROM (
              SELECT *, list_filter([{', '.join(fails)}], x -> x IS NOT NULL)
                        AS fails
              FROM (
                SELECT * EXCLUDE (_n), _n AS n,
                       coalesce(fair_tracks."@schema", "@schema") AS sid
                FROM read_json('{path}/*.jsonl', format = 'newline_delimited',
                               columns = {{{cols}}})))""")
        con.execute("CREATE TEMP TABLE viol (n BIGINT, sid VARCHAR, check_id VARCHAR)")
        con.execute("""
            INSERT INTO viol SELECT n, sid, unnest(fails) FROM c
            WHERE len(fails) > 0""")
        for sid, cid, key in _FLAT_UNIQUES:
            con.execute(f"""
                INSERT INTO viol SELECT n, '{sid}', '{cid}' FROM (
                  SELECT n, row_number() OVER (PARTITION BY k ORDER BY n) AS rk
                  FROM (SELECT n, {key} AS k FROM c
                        WHERE sid = '{sid}' AND ok)
                  WHERE k IS NOT NULL) WHERE rk > 1""")
        for n, hits in _fanout_collisions(con):
            con.executemany("INSERT INTO viol VALUES (?, ?, ?)",
                            [(n, TRACK, FANOUT_CHECK)] * hits)
        # pass 2 probes only documents that passed pass 1 entirely
        con.execute("""
            CREATE TEMP TABLE pass2 AS
            SELECT * FROM c WHERE ok AND n NOT IN (SELECT n FROM viol)""")
        for sid, cid, member, target, tkey in _FKS:
            con.execute(f"""
                INSERT INTO viol SELECT n, sid, '{cid}' FROM pass2
                WHERE sid = '{sid}' AND {member} IS NOT NULL
                  AND {member} NOT IN (
                    SELECT {tkey} FROM c
                    WHERE sid = '{target}' AND ok AND {tkey} IS NOT NULL)""")
        known = _in(list(_ROW_CHECKS))
        con.execute(f"""
            INSERT INTO viol SELECT n, sid, 'orphan' FROM c
            WHERE sid IS NULL OR sid NOT IN {known}""")
        ignored = con.execute(
            "SELECT count(*) FROM viol WHERE check_id = 'orphan'").fetchone()[0]
        by_check = dict(con.execute(
            "SELECT check_id || '@' || coalesce(sid, 'null'), count(*) "
            "FROM viol GROUP BY ALL").fetchall())
        return _expected(con, f"""
            SELECT count(*), count(*) FILTER (
              WHERE sid IN {known} AND n IN (SELECT n FROM viol))
            FROM c""", by_check, ignored, 0)
    finally:
        con.close()
