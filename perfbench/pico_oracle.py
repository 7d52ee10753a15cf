"""DuckDB reference answers for the five API calls, over the same
fixture parquet files the warehouse was committed from. Each compare
returns None when the API rows match, else a one-line difference."""

from __future__ import annotations

import glob
import os

import duckdb

FIELDS = ("population", "interventions", "outcomes")
COVID_CUI = "TS-COV19"
COVID_MESH_UI = "C000657245"
CAP = 250


def _lit(values) -> str:
    return ", ".join("'" + v.replace("'", "''") + "'" for v in values)


class Oracle:
    def __init__(self, fixture_dir: str, closure_rows: list[dict]):
        self.con = duckdb.connect()
        for path in glob.glob(os.path.join(fixture_dir, "*.parquet")):
            t = os.path.splitext(os.path.basename(path))[0]
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
        self.children: dict[str, set] = {}
        for r in closure_rows:
            if r["depth"] <= 1:
                self.children.setdefault(r["ancestor_cui"], set()).add(
                    r["descendant_cui"]
                )

    def close(self) -> None:
        self.con.close()

    def _q(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    def _subtree(self, cui: str) -> list[str]:
        return sorted(self.children.get(cui, set()) | {cui})

    def _pred(self, terms: list[dict]) -> str:
        return " AND ".join(
            f"len(list_filter({t['field']}_mesh, x -> x.cui IN "
            f"({_lit(self._subtree(t['cui']))}))) > 0"
            for t in terms
        )

    def picosearch(self, terms: list[dict], order: str) -> set:
        pred = self._pred(terms)
        key = (
            "CAST(pa.prob_low_rob AS FLOAT) * pa.num_randomized"
            if order == "score" else "pm.year"
        )
        rows = self._q(f"""
            SELECT pm.pmid FROM pubmed pm
            JOIN (SELECT * FROM pubmed_annotations WHERE {pred}) pa USING (pmid)
            WHERE pm.is_rct_balanced AND pm.is_human
            ORDER BY {key} DESC NULLS LAST, pm.pmid LIMIT {CAP}""")
        want = {(r[0], "journal article") for r in rows}
        rows = self._q(f"""
            SELECT regid FROM ictrp WHERE {pred} AND is_rct = 'RCT'
            ORDER BY regid LIMIT {CAP}""")
        want |= {(r[0], "trial registration") for r in rows}
        if any(t["cui"] == COVID_CUI and t["field"] == "population" for t in terms):
            rows = self._q(f"""
                SELECT doi FROM medrxiv_covid19
                WHERE {pred} AND is_rct_balanced AND is_human
                ORDER BY doi LIMIT {CAP}""")
            want |= {(r[0], "preprint") for r in rows}
        return want

    def autocomplete(self, q: str) -> list:
        order = "cui_str, cui_pico_display" if len(q) < 3 else \
            "count DESC, cui_pico_display"
        rows = self._q(f"""
            SELECT cui_pico_display FROM (
              SELECT *, row_number() OVER (
                PARTITION BY cui_pico_display ORDER BY count DESC, cui) AS rn
              FROM autocomplete_suggestions
              WHERE starts_with(lower(cui_str), {_lit([q.lower()])}))
            WHERE rn = 1 ORDER BY {order} LIMIT 5""")
        return [r[0] for r in rows]

    def get_trial(self, uuid: str) -> set:
        doi = uuid.replace("-", "/") if "-" in uuid and "/" not in uuid else uuid
        u, d = _lit([uuid]), _lit([doi])
        rows = self._q(f"""
            SELECT pmid, 'pubmed' FROM pubmed WHERE pmid = {u}
            UNION ALL SELECT regid, 'ictrp' FROM ictrp WHERE regid = {u}
            UNION ALL SELECT doi, 'medrxiv' FROM medrxiv_covid19
              WHERE doi = {u} OR doi = {d}""")
        return set(rows)

    def meta(self) -> tuple:
        last = self._q("""
            SELECT strftime(max(download_date), '%Y-%m-%d %H:%M:%S')
            FROM update_log WHERE update_type = 'fullcheck'""")[0][0]
        n = self._q("SELECT count(*) FROM pubmed WHERE is_rct_balanced")[0][0]
        return (last, f"{n:,}")

    def covid19(self) -> set:
        rows = self._q(f"""
            SELECT pm.pmid, 'trialstreamer_published' FROM pubmed pm
            JOIN pubmed_annotations pa USING (pmid)
            WHERE pm.is_rct_balanced AND len(list_filter(pa.population_mesh,
                  x -> x.mesh_ui = '{COVID_MESH_UI}')) > 0
            UNION ALL
            SELECT doi, 'trialstreamer_preprint' FROM medrxiv_covid19
            WHERE is_rct_balanced""")
        return set(rows)

    def compare(self, kind: str, args: dict, rows: list[dict]) -> str | None:
        if kind == "picosearch":
            got = {(r["pmid"], r["article_type"]) for r in rows}
            want = self.picosearch(args["terms"], args["order"])
        elif kind == "autocomplete":
            got = [r["cui_pico_display"] for r in rows]
            want = self.autocomplete(args["q"])
        elif kind == "get_trial":
            got = {(r["id"], r["source_table"]) for r in rows}
            want = self.get_trial(args["uuid"])
        elif kind == "meta":
            got = [(r["last_updated"], r["num_rcts"]) for r in rows]
            want = [self.meta()]
        else:
            got = {(r["id"], r["result_set"]) for r in rows}
            want = self.covid19()
        if got == want:
            return None
        return f"api {len(got)} rows, oracle {len(want)} rows"
