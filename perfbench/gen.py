"""Seeded input generation: numpy + pyarrow only, no Spark, no package code.

Everything a workload feeds the engine is made here, before any clock
starts: dish and product masters with their embeddings, seed stores, PDF
menus and fake-MDB grocery containers. The PDF and
fake-MDB writers are the benchmark's own, so the inputs do not depend on the
encoders they exercise. ``Truth`` is the benchmark's independent record of
what the store must hold (key -> price), kept beside the engine's store.
"""

from __future__ import annotations

import hashlib
import json
import os
import struct
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 8  # embedding width: the pipeline's hash embeddings are 8-wide
FIXED_SEED = 20240611  # inputs that must not vary with --seed (the faulty menu)

STORE_SCHEMA = pa.schema(
    [
        ("article_id", pa.string()),
        ("business_account_id", pa.string()),
        ("product_name", pa.string()),
        ("category", pa.string()),
        ("description", pa.string()),
        ("brand", pa.string()),
        ("price", pa.float64()),
        ("tax_percentage", pa.float64()),
        ("match_type", pa.string()),
        ("neighbor_id", pa.string()),
    ]
)

_ADJ = ["Spicy", "Smoked", "Crispy", "Grilled", "Roasted", "Sweet", "Garlic",
        "Creamy", "Tandoori", "Honey", "Lemon", "Pepper", "Herb", "Classic",
        "Golden", "Masala", "Truffle", "Chili", "Butter", "Rustic"]
_BASE = ["Paneer", "Chicken", "Tofu", "Lamb", "Prawn", "Salmon", "Noodles",
         "Rice Bowl", "Burger", "Pizza", "Tacos", "Salad", "Soup", "Curry",
         "Wrap", "Dumplings", "Pasta", "Steak", "Falafel", "Ramen"]
CATEGORIES = ["Starters", "Mains", "Desserts", "Beverages", "Sides", "Soups",
              "Salads", "Breakfast", "Snacks", "Bakery", "Dairy", "Frozen"]


def _names(rng: np.random.Generator, n: int, tag: str) -> list[str]:
    a = rng.integers(0, len(_ADJ), n)
    b = rng.integers(0, len(_BASE), n)
    return [f"{_ADJ[i]} {_BASE[j]} {tag}{k}" for k, (i, j) in enumerate(zip(a, b))]


def _unit_rows(rng: np.random.Generator, n: int) -> np.ndarray:
    v = rng.standard_normal((n, DIM))
    return v / np.linalg.norm(v, axis=1)[:, None]


def hash_embedding(text: str, dim: int = DIM) -> list[float]:
    """md5-derived mock embedding, written from the pipeline's documented
    formula (``md5(text || '_' || i)``, first 15 hex digits, mod 2000)."""
    out = []
    for i in range(dim):
        h = int(hashlib.md5(f"{text}_{i}".encode()).hexdigest()[:15], 16)
        out.append((h % 2000) / 1000.0 - 1.0)
    return out


def gtin_ok(code: str) -> bool:
    if not code.isdigit() or len(code) not in (8, 12, 13, 14):
        return False
    digits = [int(c) for c in reversed(code)]
    s = sum(d * (3 if i % 2 == 0 else 1) for i, d in enumerate(digits[1:]))
    return (10 - s % 10) % 10 == digits[0]


def gtin13(body12: int) -> str:
    b = f"{body12:012d}"
    s = sum(int(c) * (3 if i % 2 == 0 else 1) for i, c in enumerate(reversed(b)))
    return b + str((10 - s % 10) % 10)


def write_parquet(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def store_table(rows: list[dict]) -> pa.Table:
    return pa.Table.from_pylist(rows, schema=STORE_SCHEMA)


# --------------------------------------------------------------------------
# File formats written by the benchmark itself
# --------------------------------------------------------------------------

def _pdf_escape(s: str) -> bytes:
    return s.encode("latin-1").replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")


def pdf_bytes(pages: list[str]) -> bytes:
    """A PDF 1.4 file: catalog, page tree, font, one Flate content stream
    with a single ``Tj`` per page, classic xref table."""
    n = len(pages)
    kids = " ".join(f"{4 + 2 * i} 0 R" for i in range(n))
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [%s] /Count %d >>" % (kids.encode(), n),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    for i, text in enumerate(pages):
        content = zlib.compress(b"BT /F1 9 Tf 36 756 Td (" + _pdf_escape(text) + b") Tj ET")
        objs.append(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 3 0 R >> >> /Contents %d 0 R >>" % (5 + 2 * i)
        )
        objs.append(
            b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream"
            % (len(content), content)
        )
    buf = bytearray(b"%PDF-1.4\n")
    offsets = []
    for num, body in enumerate(objs, start=1):
        offsets.append(len(buf))
        buf += b"%d 0 obj\n%s\nendobj\n" % (num, body)
    xref = len(buf)
    buf += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets:
        buf += b"%010d 00000 n \n" % off
    buf += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (len(objs) + 1, xref)
    return bytes(buf)


def fake_mdb_bytes(tables: dict[str, str]) -> bytes:
    """The fake-MDB container layout: magic, table count, then per table a
    u16-length name and a u32-length CSV payload (little endian)."""
    out = bytearray(b"FAKEMDB1")
    out += struct.pack("<I", len(tables))
    for name, csv_text in tables.items():
        nb, pb = name.encode(), csv_text.encode()
        out += struct.pack("<H", len(nb)) + nb + struct.pack("<I", len(pb)) + pb
    return bytes(out)


# --------------------------------------------------------------------------
# The benchmark's record of what the store must hold
# --------------------------------------------------------------------------

class Truth:
    """Key -> price of every live store row, maintained from the inputs as
    operations complete, never from the engine's outputs."""

    def __init__(self, prices: dict[str, float]):
        self.prices = dict(prices)

    def lookup_ids(self, rng: np.random.Generator, n: int, absent: list[str]) -> list[str]:
        live = list(self.prices)
        ids = [live[i] for i in rng.choice(len(live), n - n // 10, replace=False)]
        ids += [absent[i] for i in rng.integers(0, len(absent), n // 10)]
        return sorted(set(ids))

    def expected(self, ids: list[str]) -> dict[str, float]:
        return {k: self.prices[k] for k in ids if k in self.prices}


def seed_store_rows(rng: np.random.Generator, n: int, prefix: str, n_biz: int) -> list[dict]:
    cents = rng.integers(99, 9999, n)
    biz = rng.integers(0, n_biz, n)
    cat = rng.integers(0, len(CATEGORIES), n)
    names = _names(rng, n, prefix)
    return [
        {
            "article_id": f"{prefix}{k:07d}",
            "business_account_id": f"B{biz[k]:03d}",
            "product_name": names[k],
            "category": CATEGORIES[cat[k]],
            "description": names[k],
            "brand": "Seed",
            "price": int(cents[k]) / 100,
            "tax_percentage": 0.0,
            "match_type": "seed",
            "neighbor_id": None,
        }
        for k in range(n)
    ]


# --------------------------------------------------------------------------
# menu_onboard
# --------------------------------------------------------------------------

class MenuInputs:
    """Dish master (fixed part + seeded part), restaurants, a seeded store
    and a stream of PDF menus. The last menu of a round is the fixed
    all-known-dishes menu, identical for every seed."""

    FIXED_DISHES = 500

    def __init__(self, root: str, seed: int, *, master_rows: int, store_rows: int,
                 n_restaurants: int = 64):
        self.root = root
        self.rng = np.random.default_rng(seed)
        fixed = np.random.default_rng(FIXED_SEED)
        names = _names(fixed, self.FIXED_DISHES, "F") + _names(
            self.rng, master_rows - self.FIXED_DISHES, "D"
        )
        emb = np.vstack([_unit_rows(fixed, self.FIXED_DISHES),
                         _unit_rows(self.rng, master_rows - self.FIXED_DISHES)])
        self.master_names = names
        self.master_emb = emb
        self.master_ids = [f"D{k:07d}" for k in range(master_rows)]
        self.master_path = os.path.join(root, "dish_master.parquet")
        write_parquet(self.master_path, {
            "vec_id": self.master_ids,
            "name": names,
            "upc_code": pa.nulls(master_rows, pa.string()),
            "master_brand": [f"MB{k % 97}" for k in range(master_rows)],
            "master_description": [f"Master {n}" for n in names],
            "embedding": pa.array(list(emb), pa.list_(pa.float64())),
        })
        self.biz_names = {f"B{k:03d}": f"Restaurant {k}" for k in range(n_restaurants)}
        self.biz_path = os.path.join(root, "restaurants.parquet")
        write_parquet(self.biz_path, {"id": list(self.biz_names), "name": list(self.biz_names.values())})
        self.store_rows = seed_store_rows(self.rng, store_rows, "S", n_restaurants)
        self.store_path = os.path.join(root, "store_seed.parquet")
        pq.write_table(store_table(self.store_rows), self.store_path)
        self.truth = Truth({r["article_id"]: r["price"] for r in self.store_rows})
        self.n = 0

    def _menu(self, rng: np.random.Generator, tag: str, biz: str, known_only: bool,
              n_items: int, n_pages: int) -> dict:
        if known_only:
            pick = rng.choice(self.FIXED_DISHES, n_items, replace=False)
            names = [self.master_names[i] for i in pick]
        else:
            n_known = n_items * 3 // 10
            pick = rng.choice(len(self.master_names) - self.FIXED_DISHES, n_known, replace=False)
            names = [self.master_names[self.FIXED_DISHES + i] for i in pick]
            names += _names(rng, n_items - n_known, f"{tag}N")
            rng.shuffle(names)
        cents = rng.integers(199, 4999, n_items)
        cats = rng.integers(0, len(CATEGORIES), n_items)
        items = [
            {
                "sku": f"{tag}-{i:03d}",
                "name": names[i],
                "category": CATEGORIES[cats[i]],
                "subcategory": "House",
                "description": f"Fresh {names[i].lower()}",
                "price": f"${int(cents[i]) / 100:.2f}",
            }
            for i in range(n_items)
        ]
        bounds = np.linspace(0, n_items, n_pages + 1).astype(int)
        pages = [json.dumps(items[a:b]) for a, b in zip(bounds[:-1], bounds[1:])]
        path = os.path.join(self.root, f"{tag}.pdf")
        with open(path, "wb") as fh:
            fh.write(pdf_bytes(pages))
        return {"tag": tag, "path": path, "biz": biz, "items": items, "known_only": known_only}

    def next_menu(self, n_items: int, n_pages: int, known_only: bool = False) -> dict:
        self.n += 1
        if known_only:
            return self._menu(np.random.default_rng(FIXED_SEED), f"K{self.n:05d}", "B000", True,
                              n_items, n_pages)
        biz = f"B{int(self.rng.integers(0, len(self.biz_names))):03d}"
        return self._menu(self.rng, f"M{self.n:05d}", biz, False, n_items, n_pages)

    def next_round(self, shapes: list[tuple[int, int]]) -> list[dict]:
        """One menu per (items, pages) shape, then the fixed known-dishes
        menu (80 items on 4 pages). Shapes are fixed per round position so
        that a run's item count does not depend on the seed."""
        return [self.next_menu(n, p) for n, p in shapes] + [self.next_menu(80, 4, known_only=True)]


# --------------------------------------------------------------------------
# grocery_bulk
# --------------------------------------------------------------------------

class GroceryInputs:
    """Product master with GTIN-13 codes, a seeded store and a stream of
    retailer catalogs in fake-MDB containers. A catalog mixes master UPCs,
    unknown valid and invalid codes, alphanumeric codes, master names and
    new names, plus rows already in the store (unchanged or repriced)."""

    def __init__(self, root: str, seed: int, *, master_rows: int, store_rows: int,
                 catalog_rows: int):
        self.root = root
        self.rng = np.random.default_rng(seed)
        self.catalog_rows = catalog_rows
        bodies = self.rng.choice(10**11, master_rows, replace=False) + 10**11
        self.master_upcs = [gtin13(int(b)) for b in bodies]
        self.master_upc_set = set(self.master_upcs)
        self.master_names = _names(self.rng, master_rows, "G")
        emb = _unit_rows(self.rng, master_rows)
        self.master_emb = emb
        self.master_ids = [f"G{k:07d}" for k in range(master_rows)]
        self.master_path = os.path.join(root, "product_master.parquet")
        write_parquet(self.master_path, {
            "master_key": np.arange(master_rows, dtype=np.int64),
            "vec_id": self.master_ids,
            "upc_code": self.master_upcs,
            "name": self.master_names,
            "master_brand": [f"Brand{k % 211}" for k in range(master_rows)],
            "master_description": [f"About {n}" for n in self.master_names],
            "master_category": [CATEGORIES[k % len(CATEGORIES)] for k in range(master_rows)],
            "embedding": pa.array(list(emb), pa.list_(pa.float64())),
        })
        self.store_rows = seed_store_rows(self.rng, store_rows, "S", 16)
        self.store_path = os.path.join(root, "store_seed.parquet")
        pq.write_table(store_table(self.store_rows), self.store_path)
        self.truth = Truth({r["article_id"]: r["price"] for r in self.store_rows})
        self.n = 0

    def next_catalog(self) -> dict:
        rng, n = self.rng, self.catalog_rows
        self.n += 1
        tag = f"C{self.n:04d}"
        kind = rng.choice(6, n, p=[0.35, 0.08, 0.07, 0.38, 0.08, 0.04])
        store_ids = list(self.truth.prices)
        codes, names, cents = [], [], rng.integers(99, 9999, n)
        new_names = _names(rng, n, f"{tag}N")
        for i, k in enumerate(kind):
            if k == 0:  # master UPC
                u = self.master_upcs[int(rng.integers(0, len(self.master_upcs)))]
                codes.append(u)
                names.append(new_names[i])
            elif k == 1:  # valid GTIN-13 not in the master
                codes.append(gtin13(int(rng.integers(10**10, 10**11))))
                names.append(new_names[i])
            elif k == 2:  # digits with a wrong check digit
                g = gtin13(int(rng.integers(10**11, 2 * 10**11)))
                codes.append(g[:-1] + str((int(g[-1]) + 1) % 10))
                names.append(new_names[i])
            elif k == 3:  # alphanumeric code, half of them with a master name
                codes.append(f"{tag}X{i:06d}")
                names.append(
                    " " + self.master_names[int(rng.integers(0, len(self.master_names)))]
                    if i % 2 else new_names[i]
                )
            else:  # already in the store: unchanged (4) or repriced (5)
                sid = store_ids[int(rng.integers(0, len(store_ids)))]
                codes.append(sid)
                names.append(new_names[i])
                if k == 4:
                    cents[i] = round(self.truth.prices[sid] * 100)
        # one row per code: a catalog never lists an article twice
        seen, rows = set(), []
        for i in range(n):
            if codes[i] in seen:
                continue
            seen.add(codes[i])
            qty = "" if i % 13 == 0 else str(int(rng.integers(0, 50)))
            rows.append((codes[i], names[i], qty, "True" if i % 3 == 0 else "False", int(cents[i])))
        lines = ["Article,Description,QteMain,Taxe2,PrixVente"]
        lines += [f"{c},{nm},{q},{t},{ct / 100:.2f}" for c, nm, q, t, ct in rows]
        path = os.path.join(self.root, f"{tag}.mdb")
        with open(path, "wb") as fh:
            fh.write(fake_mdb_bytes({"Articles": "\n".join(lines) + "\n"}))
        return {"tag": tag, "path": path, "rows": rows}
