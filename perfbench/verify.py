"""Output checks. Every failed check counts toward the run's error rate.

Ingest (FIXTURES.md section 5): curated rows equal the generator's
count after dedup and invalid-row drops; municipality marts, UF marts
and attributed events sum to the same number, which also equals the
generator's attributable count; a replay adds nothing and leaves every
table count unchanged; each new day shows in its first paint.

Dashboard: a seeded sample of responses is recomputed with DuckDB
straight from the warehouse's enriched-events parquet, which shares no
code with the program's marts or query layer.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import duckdb

_GROUP_KEY = {
    "uf": "uf",
    "mun": "coalesce(cd_mun, mun_nm_mun)",
    "bioma": "coalesce(cd_bioma, bioma)",
}


class Checks:
    def __init__(self):
        self.attempted = 0
        self.failed: list[str] = []

    def expect(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed.append(what)
        return ok


def warehouse_counts(wh_root: str) -> dict[str, int]:
    con = duckdb.connect()
    out = {}
    for table in ("curated_focos", "enriched_focos", "focos_diario_municipio", "focos_diario_uf"):
        glob = os.path.join(wh_root, table, "*", "*.parquet")
        if table.startswith("focos_"):
            q = f"SELECT coalesce(sum(n_focos), 0) FROM read_parquet('{glob}')"
        else:
            q = f"SELECT count(*) FROM read_parquet('{glob}')"
        out[table] = int(con.execute(q).fetchone()[0])
    glob = os.path.join(wh_root, "enriched_focos", "*", "*.parquet")
    out["attributed"] = int(con.execute(
        f"SELECT count(*) FROM read_parquet('{glob}') WHERE mun_cd_mun IS NOT NULL"
    ).fetchone()[0])
    con.close()
    return out


def check_warehouse(checks: Checks, wh_root: str, valid: int, attributable: int, stage: str) -> dict:
    n = warehouse_counts(wh_root)
    checks.expect(n["curated_focos"] == valid, f"{stage}: curated {n['curated_focos']} != {valid}")
    checks.expect(n["enriched_focos"] == valid, f"{stage}: enriched {n['enriched_focos']} != {valid}")
    checks.expect(
        n["focos_diario_municipio"] == n["focos_diario_uf"] == n["attributed"] == attributable,
        f"{stage}: mun marts {n['focos_diario_municipio']}, uf marts {n['focos_diario_uf']}, "
        f"attributed {n['attributed']}, expected {attributable}",
    )
    return n


class Oracle:
    """DuckDB recomputation of dashboard responses over enriched events."""

    def __init__(self, wh_root: str):
        self.con = duckdb.connect()
        glob = os.path.join(wh_root, "enriched_focos", "*", "*.parquet")
        self.con.execute(
            "CREATE VIEW ev AS SELECT CAST(event_day AS DATE) AS day, mun_uf AS uf, "
            "mun_cd_mun AS cd_mun, mun_nm_mun, bioma_enr AS bioma, cd_bioma, lat, lon "
            f"FROM read_parquet('{glob}', hive_partitioning = true)"
        )

    def close(self):
        self.con.close()

    def _where(self, p: dict) -> tuple[str, list]:
        sql, args = "day >= ? AND day < ?", [dt.date.fromisoformat(p["from"]),
                                             dt.date.fromisoformat(p["to"])]
        if p.get("uf"):
            sql += " AND uf = ?"
            args.append(p["uf"].strip().upper())
        return sql, args

    def _rows(self, sql: str, args: list) -> list[tuple]:
        return self.con.execute(sql, args).fetchall()

    def expected(self, route: str, p: dict):
        """The part of the response body the oracle recomputes, or None
        for routes it does not cover."""
        if route == "/api/points":
            day = dt.date.fromisoformat(p["date"])
            x0, y0, x1, y1 = (float(v) for v in p["bbox"].split(","))
            n = self._rows("SELECT count(*) FROM ev WHERE day = ? AND lon BETWEEN ? AND ? "
                           "AND lat BETWEEN ? AND ?", [day, x0, x1, y0, y1])[0][0]
            limit = int(p["limit"])
            return {"returned": min(n, limit), "truncated": n > limit}
        if route == "/api/geo" or "from" not in p:
            return None
        where, args = self._where(p)
        if route == "/api/totals":
            return {"total_n_focos": self._rows(f"SELECT count(*) FROM ev WHERE {where}", args)[0][0]}
        if route == "/api/timeseries/total":
            days = (dt.date.fromisoformat(p["to"]) - dt.date.fromisoformat(p["from"])).days
            if days > 92:
                return None
            rows = self._rows(f"SELECT day, count(*) FROM ev WHERE {where} GROUP BY 1 ORDER BY 1", args)
            return {"items": [{"bucket": str(d), "n_focos": n} for d, n in rows]}
        if route == "/api/summary":
            rows = self._rows(f"SELECT day, count(*) n FROM ev WHERE {where} GROUP BY 1 "
                              "ORDER BY n DESC, day ASC", args)
            return {"total_n_focos": sum(n for _, n in rows),
                    "peak_day": str(rows[0][0]) if rows else None,
                    "peak_n_focos": rows[0][1] if rows else 0}
        if route == "/api/top":
            key = _GROUP_KEY[p["group"]]
            k = int(p.get("limit", 10))
            if p["group"] == "mun" and not p.get("uf"):
                k = min(k, 10)
            rows = self._rows(
                f"SELECT {key} AS k, count(*) n FROM ev WHERE {where} AND {key} IS NOT NULL "
                f"AND {key} <> '' GROUP BY 1 ORDER BY n DESC, k ASC LIMIT {k}", args)
            return {"items": [(str(a), n) for a, n in rows]}
        if route == "/api/choropleth/uf":
            return None  # zero-filled over the UF dim: checked by count below
        if route == "/api/choropleth/mun":
            rows = self._rows(f"SELECT cd_mun, count(*) FROM ev WHERE {where} AND cd_mun IS NOT NULL "
                              "GROUP BY 1 ORDER BY 1", args)
            return {"items": [(str(a), n) for a, n in rows]}
        return None

    def uf_totals(self, p: dict) -> dict[str, int]:
        where, args = self._where(p)
        return dict(self._rows(f"SELECT uf, count(*) FROM ev WHERE {where} AND uf IS NOT NULL "
                               "GROUP BY 1", args))


def compare(route: str, body: dict, exp: dict) -> bool:
    if route in ("/api/top", "/api/choropleth/mun"):
        got = [(str(i["key"]), int(i["n_focos"])) for i in body["items"]]
        return got == exp["items"]
    return all(body.get(k) == v for k, v in exp.items())


def check_responses(checks: Checks, wh_root: str, sample: list[tuple[str, dict, dict]],
                    all_ufs: list[str]) -> None:
    oracle = Oracle(wh_root)
    try:
        for route, params, body in sample:
            if route == "/api/choropleth/uf":
                ufs = oracle.uf_totals(params)
                got = {i["key"]: i["n_focos"] for i in body["items"]}
                want = {u: ufs.get(u, 0) for u in all_ufs}
                checks.expect(got == want, f"{route} {params}: {got} != {want}")
                continue
            exp = oracle.expected(route, params)
            if exp is not None:
                checks.expect(compare(route, body, exp), f"{route} {params}: body differs from {exp}")
    finally:
        oracle.close()


def corpus_digest(out_dir: str) -> str:
    """Order-independent digest of the exported corpus: doc id, split,
    shard and pack of every row."""
    import pyarrow.dataset as ds

    t = ds.dataset(os.path.join(out_dir, "corpus"), format="parquet", partitioning="hive")
    tbl = t.to_table(columns=["doc_id", "split", "shard", "pack_id"]).sort_by("doc_id")
    h = hashlib.sha256()
    for col in ("doc_id", "split", "shard", "pack_id"):
        h.update(repr(tbl.column(col).to_pylist()).encode())
    return h.hexdigest()
