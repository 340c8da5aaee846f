"""Seeded generator of dirty orders/products CSVs (FIXTURES.md F1-F5).

Every column is built with numpy and pyarrow compute kernels, never a
per-row Python loop, so a 1M-row orders file takes seconds. The same
``(seed, n_orders, n_products)`` always gives the same bytes.

Dirt classes, with the shares of the reference input they imitate:

- ``status``: Paid / Failed / Accepted / Waiting_Accepted at ~82/17/0.6/0.4 %;
- ``sum``: ~4 % written with a decimal comma (``1300,65``);
- ``product_id``: ~8 % carry one letter at a random position (``529629c``,
  ``d59954``); stripping non-digits gives the true id back;
- key pairs: ~27 % of rows belong to an ``(order_source_id, product_id)``
  pair that occurs more than once (~40 % of rows are later copies), and
  copies differ in their other columns, so only first-occurrence dedup
  gives the oracle's answer;
- join misses: ~10 % of rows point at a product id absent from products;
- names: the F3 golden inputs are planted in the first rows of the file
  (first occurrences, so dedup keeps them); elsewhere ~2 % of values carry
  an HTML entity and ~1 % a digit or an inner space.

The F5 similarity fixture (8 products around target 516423) is planted in
every products file.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

ORDERS_COLUMNS = [
    "order_source_id",
    "order_created_datetime",
    "customer_id",
    "status",
    "sum",
    "quantity",
    "name",
    "surname",
    "patronymic",
    "product_id",
]
PRODUCTS_COLUMNS = ["product_id", "price", "goods_group", "manufacturer"]

REFERENCE_ORDERS = 2502
REFERENCE_PRODUCTS = 3765

STATUSES = ["Paid", "Failed", "Accepted", "Waiting_Accepted"]
STATUS_P = [0.82, 0.17, 0.006, 0.004]
COMMA_P = 0.04
LETTER_P = 0.08
REPEATED_PAIR_ROWS_P = 0.2746  # 687 / 2502 in the reference input
EXTRA_COPY_ROWS_P = 0.4009  # 1003 / 2502
JOIN_MISS_P = 0.10
ENTITY_P = 0.02
NOISY_NAME_P = 0.01

# F3: input -> golden output of clean_name
F3_GOLDEN = {
    "Olena": "olena",
    "-": "",
    "в&#039;ячеславівна": "в'ячеславівна",
    "я": "",
    "мар&#039;яна": "мар'яна",
    "кіт": "кіт",
    "ddd": "",
    "m": "",
    "с": "",
    "іванова-шипак": "іванова-шипак",
}

# F5: products around target 516423, with the golden scores
F5_TARGET = 516423
F5_PRODUCTS = [
    (536469, "749.0", "Для активного відпочинку", "Bugs"),
    (296597, "199.0", "Дитячі машинки", "CARS"),
    (385613, "199.0", "Ігрові фігурки", "CARS"),
    (516423, "219.0", "Дитячі машинки", "CARS"),
    (516425, "299.0", "Дитячі машинки", "CARS"),
    (427227, "329.0", "Дитячі машинки", "LENA"),
    (439541, "810.0", "Дитячі машинки", "LENA"),
    (528462, "219.0", "Дитячі машинки", "LENA"),
]
F5_GOLDEN = {
    536469: 0.08772,
    296597: 0.9726,
    385613: 0.4726,
    516423: 1.0,
    516425: 0.91973,
    427227: 0.6997,
    439541: 0.58111,
    528462: 0.8,
}

GOODS_GROUPS = [
    "Дитячі машинки",
    "Ігрові фігурки",
    "Для активного відпочинку",
    "Конструктори",
    "Ляльки",
    "Настільні ігри",
    "М'які іграшки",
    "Творчість",
    "Пазли",
    "Радіокеровані іграшки",
    "Іграшки для малюків",
    "Зброя та аксесуари",
    "Музичні іграшки",
]
N_MANUFACTURERS = 418
FIRST_NAMES = [
    "олена", "Олена", "анна", "Анна", "марія", "оксана", "ірина", "наталія",
    "тетяна", "юлія", "андрій", "Андрій", "олександр", "сергій", "дмитро",
    "іван", "Іван", "максим", "богдан", "тарас", "olena", "Olha", "anna",
    "iryna", "taras", "Serhii", "yuliia", "dmytro", "ян", "ія", "ст",
]
SURNAMES = [
    "шевченко", "Шевченко", "коваленко", "бондаренко", "ткаченко",
    "кравченко", "Олійник", "мельник", "шевчук", "поліщук", "іванова-шипак",
    "Petrenko", "kovalenko", "bondar", "lysenko", "мороз", "гнатюк",
]
PATRONYMICS = [
    "олександрівна", "іванівна", "Петрівна", "андріївна", "сергіївна",
    "олександрович", "іванович", "Петрович", "андрійович", "сергійович",
    "в'ячеславівна", "v'yacheslavivna", "ivanivna", "-",
]


def _noisy(values: list[str], rng: np.random.Generator) -> list[str]:
    """Variants of a name vocabulary with an entity, a digit or a space."""
    out = []
    for v in values:
        if "'" in v:
            out.append(v.replace("'", "&#039;"))
        out.append(v + str(rng.integers(0, 10)))
        out.append(v[:2] + " " + v[2:])
    return out


def _name_column(
    rng: np.random.Generator, n: int, vocab: list[str]
) -> pa.Array:
    """Mostly clean values; ENTITY_P with an entity, NOISY_NAME_P noisy;
    ~2 % empty (read back as null)."""
    entity = [v.replace("'", "&#039;") for v in vocab if "'" in v] or [
        "мар&#039;яна"
    ]
    noisy = [v for v in _noisy(vocab, rng) if "&#" not in v]
    table = pa.array(vocab + entity + noisy + [None], pa.string())
    n_clean, n_ent, n_noisy = len(vocab), len(entity), len(noisy)
    kind = rng.choice(
        4, size=n, p=[1 - ENTITY_P - NOISY_NAME_P - 0.02, ENTITY_P, NOISY_NAME_P, 0.02]
    )
    idx = np.where(
        kind == 0,
        rng.integers(0, n_clean, n),
        np.where(
            kind == 1,
            n_clean + rng.integers(0, n_ent, n),
            np.where(
                kind == 2,
                n_clean + n_ent + rng.integers(0, n_noisy, n),
                len(table) - 1,
            ),
        ),
    )
    return table.take(pa.array(idx))


def _decimal_strings(cents: np.ndarray, sep: pa.Array | str) -> pa.Array:
    whole = pc.cast(pa.array(cents // 100), pa.string())
    frac = pc.utf8_lpad(pc.cast(pa.array(cents % 100), pa.string()), 2, "0")
    return pc.binary_join_element_wise(whole, frac, sep)


def _insert_letters(ids: np.ndarray, mask: np.ndarray, rng) -> pa.Array:
    """6-digit ids as strings; masked ones get one letter at a random
    position 0..6 (``d59954``, ``345f56``, ``529629c``)."""
    s = pc.cast(pa.array(ids), pa.string())
    out = s.to_numpy(zero_copy_only=False).astype(object)
    letters = np.array(list("abcdefghxyz"))
    pos = rng.integers(0, 7, ids.size)
    let = letters[rng.integers(0, letters.size, ids.size)]
    for p in range(7):
        sel = np.nonzero(mask & (pos == p))[0]
        if sel.size == 0:
            continue
        part = pa.array(out[sel], pa.string())
        head = pc.utf8_slice_codeunits(part, 0, p)
        tail = pc.utf8_slice_codeunits(part, p, 6)
        joined = pc.binary_join_element_wise(head, pa.array(let[sel]), tail, "")
        out[sel] = joined.to_numpy(zero_copy_only=False)
    return pa.array(out, pa.string())


def make_products(rng: np.random.Generator, n_products: int):
    """(table, ids) — unique 6-digit ids (F5 planted), clean prices."""
    f5_ids = np.array([p[0] for p in F5_PRODUCTS])
    n_rand = n_products - len(F5_PRODUCTS)
    pool = np.setdiff1d(
        rng.choice(np.arange(100_000, 1_000_000), n_rand + 64, replace=False),
        f5_ids,
    )[: n_rand]
    rng.shuffle(pool)
    ids = np.concatenate([pool, f5_ids])
    cents = rng.integers(500, 500_000, n_rand)
    price = pa.concat_arrays(
        [_decimal_strings(cents, "."), pa.array([p[1] for p in F5_PRODUCTS])]
    )
    manufacturers = ["BIC", "CARS", "LENA", "MZ", "Bugs"] + [
        f"BRAND{i:03d}" for i in range(N_MANUFACTURERS - 5)
    ]
    group = pa.array(GOODS_GROUPS).take(
        pa.array(rng.integers(0, len(GOODS_GROUPS), n_rand))
    )
    manu = pa.array(manufacturers).take(
        pa.array(rng.zipf(1.6, n_rand) % len(manufacturers))
    )
    table = pa.table(
        {
            "product_id": pc.cast(pa.array(ids), pa.string()),
            "price": price,
            "goods_group": pa.concat_arrays(
                [group, pa.array([p[2] for p in F5_PRODUCTS])]
            ),
            "manufacturer": pa.concat_arrays(
                [manu, pa.array([p[3] for p in F5_PRODUCTS])]
            ),
        }
    )
    return table, ids


def make_orders(rng: np.random.Generator, n_orders: int, product_ids: np.ndarray):
    """Raw orders table (leading unnamed index column) plus its dirt census."""
    n_extra = int(round(EXTRA_COPY_ROWS_P * n_orders))
    n_unique = n_orders - n_extra
    n_repeated = int(round(REPEATED_PAIR_ROWS_P * n_orders))
    miss_pool = np.setdiff1d(
        rng.integers(100_000, 1_000_000, 4 * max(64, n_unique // 50)), product_ids
    )
    hit = rng.random(n_unique) >= JOIN_MISS_P
    pid = np.where(
        hit,
        product_ids[rng.integers(0, product_ids.size, n_unique)],
        miss_pool[rng.integers(0, miss_pool.size, n_unique)],
    )
    # ~2 products per order; a colliding pair is re-keyed onto its own order
    osid = 300_000 + np.arange(n_unique) // 2
    clash = np.nonzero((np.arange(n_unique) % 2 == 1) & (pid == np.roll(pid, 1)))[0]
    osid[clash] = 300_000 + n_unique + np.arange(clash.size)

    # copies: repeated pairs get one copy, some get two, summing to n_extra
    rep = rng.choice(n_unique, n_repeated, replace=False)
    copies = np.ones(n_repeated, dtype=np.int64)
    twice = rng.choice(n_repeated, max(0, n_extra - n_repeated), replace=False)
    copies[twice] += 1
    src = np.concatenate([np.arange(n_unique), np.repeat(rep, copies)])
    src = src[rng.permutation(src.size)]
    # F3 rows lead the file: first occurrences of single-copy pairs
    singles = np.setdiff1d(np.arange(n_unique), rep)[: len(F3_GOLDEN)]
    src = np.concatenate([singles, src[~np.isin(src, singles)]])
    n = src.size

    key_osid, key_pid = osid[src], pid[src]
    letter = rng.random(n) < LETTER_P
    letter[: len(F3_GOLDEN)] = False  # the F3 check finds its rows by raw id
    comma = rng.random(n) < COMMA_P
    status_idx = rng.choice(len(STATUSES), size=n, p=STATUS_P)
    ts = np.datetime64("2019-01-01T00:00:00") + rng.integers(0, 365 * 86400, n).astype(
        "timedelta64[s]"
    )
    names = _name_column(rng, n, FIRST_NAMES)
    f3 = pa.array(list(F3_GOLDEN))
    names = pa.concat_arrays([f3, names[len(F3_GOLDEN):]])
    table = pa.table(
        {
            "": pc.cast(pa.array(np.arange(n)), pa.string()),
            "order_source_id": pc.cast(pa.array(key_osid), pa.string()),
            "order_created_datetime": pa.array(np.datetime_as_string(ts, unit="s")),
            "customer_id": pc.cast(
                pa.array(rng.integers(1_000, 900_000, n)), pa.string()
            ),
            "status": pa.array(STATUSES).take(pa.array(status_idx)),
            "sum": _decimal_strings(
                rng.integers(100, 1_000_000, n),
                pa.array(np.where(comma, ",", ".")),
            ),
            "quantity": pc.cast(pa.array(rng.integers(1, 6, n)), pa.string()),
            "name": names,
            "surname": _name_column(rng, n, SURNAMES),
            "patronymic": _name_column(rng, n, PATRONYMICS),
            "product_id": _insert_letters(key_pid, letter, rng),
        }
    )
    key = key_osid * 1_000_000 + key_pid
    counts = np.unique(key, return_counts=True)[1]
    census = {
        "rows": n,
        "status": {s: float(np.mean(status_idx == i)) for i, s in enumerate(STATUSES)},
        "decimal_comma": float(comma.mean()),
        "letter_product_id": float(letter.mean()),
        "repeated_pair_rows": float(np.sum(counts > 1) / n),
        "duplicate_rows": float(1 - counts.size / n),
        "join_miss_rows": float(np.mean(~np.isin(key_pid, product_ids))),
        "html_entity_values": float(
            np.mean(
                [
                    pc.mean(pc.cast(pc.match_substring(table[c], "&#"), pa.int8())).as_py()
                    for c in ("name", "surname", "patronymic")
                ]
            )
        ),
        "f3_planted": len(F3_GOLDEN),
    }
    return table, census


def _write_csv(table: pa.Table, path: str) -> int:
    """Plain CSV: values quoted only where they hold the delimiter (the
    decimal-comma sums), nulls as empty fields."""
    cols = []
    for c in table.columns:
        needs = pc.match_substring(c, ",")
        quoted = pc.binary_join_element_wise('"', c, '"', "")
        cols.append(pc.if_else(pc.fill_null(needs, False), quoted, c))
    lines = pc.binary_join_element_wise(
        *cols, ",", null_handling="replace", null_replacement=""
    )
    header = pa.array([",".join(table.column_names)])
    all_lines = pa.chunked_array([header, *lines.chunks]).combine_chunks()
    offsets = pa.array([0, len(all_lines)], pa.int32())
    body = pc.binary_join(pa.ListArray.from_arrays(offsets, all_lines), "\n")
    data = body[0].as_buffer().to_pybytes() + b"\n"
    with open(path, "wb") as fh:
        fh.write(data)
    return len(data)


def generate(
    seed: int | list[int], n_orders: int, n_products: int, orders_path: str, products_path: str
) -> dict:
    """Write the orders and products CSVs; return the dirt census with
    the files' byte sizes."""
    rng = np.random.default_rng(seed)
    products, product_ids = make_products(rng, n_products)
    orders, census = make_orders(rng, n_orders, product_ids)
    census["orders_bytes"] = _write_csv(orders, orders_path)
    census["products_bytes"] = _write_csv(products, products_path)
    census["products"] = n_products
    return census


if __name__ == "__main__":
    import argparse
    import json

    ap = argparse.ArgumentParser(description="write dirty orders/products CSVs")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--orders", type=int, required=True, help="orders rows")
    ap.add_argument("--products", type=int, required=True, help="products rows")
    ap.add_argument("--orders-csv", required=True)
    ap.add_argument("--products-csv", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.seed, a.orders, a.products, a.orders_csv, a.products_csv)))
