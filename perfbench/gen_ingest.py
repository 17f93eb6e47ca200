"""Seeded product exports for the ``catalog_ingest`` workload.

Writes one initial export and a run of much smaller delta exports,
all semicolon-separated CSV in the raw-products shape the engine's
``sources.read_raw_products`` reads. Every delta mixes price and
inventory updates to existing collections, brand-new collections and
exact re-sends of rows the warehouse already holds.

The generator also tracks, in plain Python, the natural key of every
row each output table should hold after each batch, so the benchmark
can check the warehouse row counts without asking the engine.
"""

from __future__ import annotations

import csv
import random
from dataclasses import dataclass, field

HEADER = [
    "Master Code", "SKU Code", "Product Name", "Product Image", "Img Array",
    "Category Name", "Custom Attributes", "Sku Attribute", "Web Page Details",
    "Video", "Price", "Inventory", "Weight", "Long", "Width", "High",
    "Collection URL", "Collection Image", "Master WXWERP",
]
COL = {name: i for i, name in enumerate(HEADER)}

CATEGORIES = ["吧椅", "地毯", "床头柜", "沙发", "抱枕", "餐桌", "台灯", "衣柜",
              "书架", "窗帘", "花瓶", "挂钟"]
NAME_WORDS = ["奶油色", "复古风", "北欧", "简约", "实木", "布艺", "侘寂风",
              "轻奢", "白色", "打结", "抱枕套", "床头", "家用", "客厅"]
COLORS = [f"c{i}" for i in range(23)]
SIZES = [f"{i}x{i}cm" for i in range(30, 90, 5)]
SEED_LANGS = 4  # the engine seeds en/zh/ru/th on every ingest


def _price(rng: random.Random) -> str:
    """Comma-decimal price, sometimes with a dot grouping separator."""
    euros, cents = rng.randrange(5, 4000), rng.randrange(100)
    if euros >= 1000 and rng.random() < 0.5:
        return f"{euros // 1000}.{euros % 1000:03d},{cents:02d}"
    return f"{euros},{cents:02d}"


@dataclass
class Collection:
    code: str
    rows: list[list[str]]  # template first, then variants in order


def _new_collection(rng: random.Random, idx: int) -> Collection:
    code = f"{idx:05x}{rng.getrandbits(16):04x}"
    n_img = rng.randrange(0, 4)
    urls = [f"https://img.example.com/{code}/{k}.{rng.choice(['jpg', 'png'])}"
            for k in range(1, n_img + 1)]
    junk = [str(rng.randrange(100, 1200)) for _ in range(rng.randrange(0, 2))]
    entries = urls + junk
    rng.shuffle(entries)
    template = [""] * len(HEADER)
    template[COL["Master Code"]] = code
    template[COL["SKU Code"]] = f"{code}-0"
    template[COL["Product Name"]] = "".join(rng.sample(NAME_WORDS, 3)) + code[-3:]
    template[COL["Product Image"]] = f"https://img.example.com/{code}/main.jpg"
    template[COL["Img Array"]] = "[" + ", ".join(entries) + "]"
    template[COL["Category Name"]] = rng.choice(CATEGORIES)
    template[COL["Custom Attributes"]] = (
        f"品牌:b{rng.randrange(97)}-风格:s{rng.randrange(13)}-货号:g{code}"
    )
    template[COL["Web Page Details"]] = (
        f"<div><img src=https://img.example.com/{code}/d1.jpg><p>详情</p></div>"
    )
    template[COL["Video"]] = rng.choice(["", "NaN", f"https://v.example.com/{code}.mp4"])
    template[COL["Price"]] = _price(rng)
    template[COL["Inventory"]] = str(rng.randrange(0, 500))
    template[COL["Weight"]] = f"{rng.randrange(1, 30)},{rng.randrange(10)}"
    template[COL["Long"]] = str(rng.randrange(1, 300))
    template[COL["Width"]] = str(rng.randrange(1, 300))
    template[COL["High"]] = str(rng.randrange(1, 300))
    template[COL["Collection URL"]] = f"https://detail.example.com/item.htm?id={code}"
    template[COL["Collection Image"]] = f"https://img.example.com/{code}/c.jpg"
    template[COL["Master WXWERP"]] = f"{rng.getrandbits(96):024x}"
    rows = [template]
    for v in range(1, rng.randrange(3, 13)):
        row = [""] * len(HEADER)
        row[COL["Master Code"]] = code
        row[COL["SKU Code"]] = f"{code}-{v}"
        row[COL["Sku Attribute"]] = f"颜色:{rng.choice(COLORS)};尺寸:{rng.choice(SIZES)}"
        row[COL["Price"]] = _price(rng)
        row[COL["Inventory"]] = str(rng.randrange(0, 500))
        row[COL["Weight"]] = str(rng.randrange(1, 30))
        rows.append(row)
    return Collection(code, rows)


def _update(rng: random.Random, coll: Collection) -> Collection:
    """Re-send a whole collection with new prices and inventories."""
    rows = [list(r) for r in coll.rows]
    rows[0][COL["Inventory"]] = str(rng.randrange(0, 500))
    for row in rows[1:]:
        if rng.random() < 0.7:
            row[COL["Price"]] = _price(rng)
        row[COL["Inventory"]] = str(rng.randrange(0, 500))
    return Collection(coll.code, rows)


@dataclass
class KeySets:
    """Natural keys each warehouse table holds; MERGE never deletes."""

    keys: dict[str, set] = field(default_factory=lambda: {
        "product_collection": set(), "product": set(), "translations": set(),
        "category": set(), "product_collection_category": set(),
        "custom_attributes_raw": set(), "custom_attributes_parsed": set(),
        "product_attribute_keys": set(), "product_attribute_values": set(),
        "product_attribute_product": set(), "product_collection_images": set(),
    })

    def add(self, coll: Collection) -> None:
        k = self.keys
        t = coll.rows[0]
        code = coll.code
        k["product_collection"].add(code)
        k["translations"].add(("product_collection", code))
        cat = t[COL["Category Name"]]
        k["category"].add(cat)
        k["translations"].add(("category", cat))
        k["product_collection_category"].add((code, cat))
        raw = t[COL["Custom Attributes"]]
        k["custom_attributes_raw"].add(raw)
        for pair in raw.split("-"):
            k["custom_attributes_parsed"].add((raw, pair.split(":", 1)[0]))
        n_urls = sum(e.startswith("http") for e in t[COL["Img Array"]][1:-1].split(", "))
        for i in range(1, n_urls + 1):
            k["product_collection_images"].add((code, i))
        for row in coll.rows[1:]:
            sku = row[COL["SKU Code"]]
            k["product"].add(sku)
            for pair in row[COL["Sku Attribute"]].split(";"):
                key, value = pair.split(":", 1)
                k["product_attribute_keys"].add(key)
                k["product_attribute_values"].add((key, value))
                k["product_attribute_product"].add((sku, key, value))

    def counts(self) -> dict[str, int]:
        out = {name: len(v) for name, v in self.keys.items()}
        out["lang"] = SEED_LANGS
        return out


def _write(path: str, colls: list[Collection]) -> int:
    n = 0
    with open(path, "w", encoding="utf-8", newline="") as fh:
        w = csv.writer(fh, delimiter=";", quotechar='"', quoting=csv.QUOTE_MINIMAL,
                       lineterminator="\n")
        w.writerow(HEADER)
        for c in colls:
            w.writerows(c.rows)
            n += len(c.rows)
    return n


class Exports:
    """The initial export, written on construction, and delta exports,
    written one at a time by :meth:`next_delta`, so a run generates only
    the deltas it merges. The same seed gives the same files whatever
    the number of deltas drawn."""

    def __init__(self, out_dir: str, seed: int, n_collections: int, updates: int,
                 resends: int, new: int):
        self.out_dir = out_dir
        self.mix = (updates, resends, new)
        self._rng = random.Random(seed)
        self._state: dict[str, Collection] = {}
        self._order: list[str] = []
        self._keys = KeySets()
        initial = [_new_collection(self._rng, i) for i in range(n_collections)]
        for c in initial:
            self._add(c)
        self._next_idx = n_collections
        self.initial_path = f"{out_dir}/initial.csv"
        self.initial_rows = _write(self.initial_path, initial)
        self.delta_paths: list[str] = []
        self.delta_rows: list[int] = []
        #: expected[k] = per-table row counts after the initial load and
        #: the first k deltas.
        self.expected: list[dict[str, int]] = [self._keys.counts()]

    def _add(self, c: Collection) -> None:
        if c.code not in self._state:
            self._order.append(c.code)
        self._state[c.code] = c
        self._keys.add(c)

    def next_delta(self) -> str:
        """Write ``delta_NN.csv`` and return its path."""
        rng, (updates, resends, new) = self._rng, self.mix
        touched = rng.sample(self._order, updates + resends)
        batch = [_update(rng, self._state[code]) for code in touched[:updates]]
        batch += [self._state[code] for code in touched[updates:]]
        for _ in range(new):
            batch.append(_new_collection(rng, self._next_idx))
            self._next_idx += 1
        rng.shuffle(batch)
        for c in batch:
            self._add(c)
        path = f"{self.out_dir}/delta_{len(self.delta_paths):02d}.csv"
        self.delta_paths.append(path)
        self.delta_rows.append(_write(path, batch))
        self.expected.append(self._keys.counts())
        return path
