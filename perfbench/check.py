"""Output checks computed apart from the engine: DuckDB reads the store's
parquet files directly, numpy recomputes similarity, and the expected state
comes from the generated inputs (``gen.Truth``), never from engine output.
Each function returns a list of error strings; empty means the check passed.
"""

from __future__ import annotations

import re

import duckdb
import numpy as np
import pyarrow as pa

import gen
import ops

SCORE_TOL = 2e-6  # the engine rounds scores to 6 dp before ranking
TEMPLATE_MAX = 30


def store_sql(store: str) -> str:
    return f"read_parquet('{store}/*/*.parquet', hive_partitioning = true)"


def check_store(con, store: str, prices: dict[str, float]) -> list[str]:
    """Exactly one row per live key, no other rows, each with its price."""
    errs = []
    con.register("truth", pa.table({"k": pa.array(list(prices), pa.string()),
                                    "p": pa.array(list(prices.values()), pa.float64())}))
    dup = con.execute(
        f"select article_id, count(*) from {store_sql(store)} group by 1 having count(*) > 1 limit 5"
    ).fetchall()
    if dup:
        errs.append(f"duplicate article_id in store: {dup}")
    bad = con.execute(f"""
        select coalesce(s.article_id, t.k), s.price, t.p
        from {store_sql(store)} s full outer join truth t on s.article_id = t.k
        where s.article_id is null or t.k is null or s.price is distinct from t.p
        limit 5""").fetchall()
    if bad:
        errs.append(f"store differs from expected (key, store price, expected price): {bad}")
    return errs


def check_lookups(records: list[dict]) -> list[str]:
    errs = []
    for r in records:
        if r["kind"] == "lookup" and sorted(r["got"]) != sorted(r["expected"].items()):
            got = dict(r["got"])
            diff = sorted(set(got.items()) ^ set(r["expected"].items()))[:5]
            errs.append(f"lookup of {len(r['ids'])} ids returned {len(got)} rows, "
                        f"expected {len(r['expected'])}; differing: {diff}")
    return errs


def check_templates(templates: list[list[str]], keys) -> list[str]:
    flat = [k for t in templates for k in t]
    errs = []
    if any(len(t) > TEMPLATE_MAX for t in templates):
        errs.append(f"template over {TEMPLATE_MAX} items")
    if len(flat) != len(set(flat)) or set(flat) != set(keys):
        errs.append(f"templates cover {len(set(flat))} of {len(set(keys))} products "
                    f"({len(flat) - len(set(flat))} repeated)")
    return errs


def lsh_bucket(v: np.ndarray, nbits: int) -> np.ndarray:
    return ((v[:, :nbits] > 0) * (1 << np.arange(nbits))).sum(axis=1)


def expected_neighbors(queries: np.ndarray, corpus: np.ndarray, ids: list[str], floor: float,
                       nbits: int | None = None) -> list[set | None]:
    """Per query, the set of corpus ids whose cosine is within the rounding
    tolerance of the best (``None`` when the best is below ``floor``, and an
    empty-set marker when it sits on the floor and either answer is right).
    With ``nbits``, only corpus rows in the query's sign-LSH bucket count."""
    qn = queries / np.linalg.norm(queries, axis=1)[:, None]
    cn = corpus / np.linalg.norm(corpus, axis=1)[:, None]
    ids = np.asarray(ids)
    qb = lsh_bucket(queries, nbits) if nbits else None
    cb = lsh_bucket(corpus, nbits) if nbits else None
    out: list[set | None] = []
    for i in range(len(qn)):
        members = np.flatnonzero(cb == qb[i]) if nbits else np.arange(len(cn))
        if not len(members):
            out.append(None)
            continue
        s = cn[members] @ qn[i]
        best = s.max()
        if best < floor - SCORE_TOL:
            out.append(None)
        elif best < floor + SCORE_TOL:
            out.append(set())
        else:
            out.append(set(ids[members[s >= best - SCORE_TOL]]))
    return out


def _check_matches(con, store: str, rows: list[tuple], expected: list) -> list[str]:
    """``rows``: (key, name-matched?); ``expected``: neighbor sets per row."""
    if not rows:
        return []
    con.register("exp", pa.table({"k": pa.array([r[0] for r in rows], pa.string())}))
    got = {
        k: (mt, nb) for k, mt, nb in con.execute(
            f"select article_id, match_type, neighbor_id from {store_sql(store)} "
            f"where article_id in (select k from exp)"
        ).fetchall()
    }
    errs = []
    for (key, by_name), nbrs in zip(rows, expected):
        mt, nb = got.get(key, (None, None))
        if by_name:
            ok = mt == "similarity" and nb is None
        elif nbrs is None:
            ok = mt == "generated" and nb is None
        elif not nbrs:
            ok = mt in ("generated", "similarity")
        else:
            ok = mt == "similarity" and nb in nbrs
        if not ok:
            errs.append(f"{key}: match_type {mt} neighbor {nb}, expected "
                        f"{'name match' if by_name else sorted(nbrs)[:3] if nbrs else nbrs}")
    return errs[:5]


# --------------------------------------------------------------------------

def check_menu(store: str, wl) -> list[str]:
    inp = wl.inputs
    con = duckdb.connect()
    errs = check_store(con, store, inp.truth.prices) + check_lookups(wl.records)
    names = set(inp.master_names)
    rows, queries, cats = [], [], []
    for m in wl.committed:
        biz_name = inp.biz_names[m["biz"]]
        for it in m["items"]:
            by_name = it["name"] in names
            rows.append((it["sku"], by_name))
            cats.append(it["category"])
            if not by_name:
                queries.append(gen.hash_embedding(f"{it['name']}|{it['description']}|{biz_name}"))
    con.register("cats", pa.table({"k": pa.array([r[0] for r in rows], pa.string()),
                                   "c": pa.array(cats, pa.string())}))
    bad = con.execute(
        f"select k, c, s.category from cats left join {store_sql(store)} s on s.article_id = k "
        f"where s.category is distinct from c limit 5").fetchall()
    if bad:
        errs.append(f"menu items with a wrong category: {bad}")
    found = iter(expected_neighbors(np.asarray(queries).reshape(-1, gen.DIM), inp.master_emb,
                                    inp.master_ids, ops.MENU_SCORE_MIN))
    expected = [None if by_name else next(found) for _, by_name in rows]
    errs += _check_matches(con, store, rows, expected)
    for rec in wl.records:
        if rec["kind"] == "menu":
            errs += [f"menu {rec['tag']}: {e}" for e in check_templates(rec["templates"], rec["biz_keys"])]
    return errs


def check_grocery(store: str, wl) -> list[str]:
    inp = wl.inputs
    con = duckdb.connect()
    errs = check_store(con, store, inp.truth.prices) + check_lookups(wl.records)
    con.execute(f"create table master as select upc_code, trim(name) as name "
                f"from read_parquet('{inp.master_path}')")
    vec_rows, queries = [], []
    master_names = set(n.strip() for n in inp.master_names)
    for rec, c in zip([r for r in wl.records if r["kind"] == "catalog"], wl.committed):
        staged = pa.table({
            "code": [r[0] for r in c["rows"]],
            "name": [r[1] for r in c["rows"]],
            "upc": [_valid_upc(r[0]) for r in c["rows"]],
            "price": [r[4] / 100 for r in c["rows"]],
            "tax": [r[3] == "True" for r in c["rows"]],
        })
        existing = pa.table({"k": list(c["existing_keys"]),
                             "p": [c["existing_keys"][k] for k in c["existing_keys"]]})
        con.register("staged", staged)
        con.register("existing", existing)
        want = dict(con.execute("""
            select case when upc in (select upc_code from master) then 'upc'
                        when trim(name) in (select name from master) then 'similarity'
                        else 'generated' end, count(*)
            from staged where code not in (select k from existing) group by 1""").fetchall())
        if rec["match_stats"] != want:
            errs.append(f"{c['tag']}: match_type breakdown {rec['match_stats']} != {want}")
        n_skipped = con.execute(
            "select count(*) from staged where code in (select k from existing)").fetchone()[0]
        if sum(rec["match_stats"].values()) + n_skipped != len(c["rows"]):
            errs.append(f"{c['tag']}: {len(c['rows']) - sum(rec['match_stats'].values())} rows "
                        f"skipped, expected {n_skipped}")
        n_upd = con.execute("""select count(*) from staged s join existing e on s.code = e.k
                               where s.price <> e.p or s.tax""").fetchone()[0]
        if rec["updates"] != n_upd:
            errs.append(f"{c['tag']}: {rec['updates']} price/tax updates, expected {n_upd}")
        fresh = [r for r in c["rows"] if r[0] not in c["existing_keys"]]
        want_batches = [(i, min(1000, len(fresh) - 1000 * i)) for i in range(-(-len(fresh) // 1000))]
        if rec["batch_totals"] != want_batches:
            errs.append(f"{c['tag']}: batch totals {rec['batch_totals'][:3]}..., expected {want_batches[:3]}...")
        errs += [f"{c['tag']}: {e}" for e in check_templates(rec["templates"], [r[0] for r in fresh])]
        for code, name, *_ in fresh:
            if _valid_upc(code) in inp.master_upc_set or name.strip() in master_names:
                continue
            vec_rows.append((code, False))
            queries.append(gen.hash_embedding(f"{name}|{name}|Generic"))
    expected = expected_neighbors(np.asarray(queries).reshape(-1, gen.DIM), inp.master_emb,
                                  inp.master_ids, ops.GROCERY_SCORE_MIN, ops.GROCERY_LSH_BITS)
    errs += _check_matches(con, store, vec_rows, expected)
    return errs


def _valid_upc(code: str) -> str | None:
    digits = re.sub(r"[^0-9]", "", code)
    return digits if digits and gen.gtin_ok(digits) else None


CHECKS = {"menu_onboard": check_menu, "grocery_bulk": check_grocery}
