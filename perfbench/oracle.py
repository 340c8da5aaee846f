"""Independent checks of the pipeline's outputs.

- ``pandas_oracle``: the reference semantics in pandas (read -> repair and
  cast -> first-occurrence dedup -> clean names -> left join), the same
  logic as ``_pandas_oracle`` in tests/test_e2e_oracle.py, pointed at
  generated files. Names are cleaned once per distinct value, which
  gives the same frame in a fraction of the time.
- ``frame_digest``: row count plus an order-independent hash of every
  value, so the engine's parquet output and the oracle frame compare
  without sorting a million rows.
- ``Scorer``: numpy evaluation of the similarity formula with Spark's
  ``round(x, 5)`` (HALF_UP on the double's shortest decimal form).
"""

from __future__ import annotations

import html
import re
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

from gen import ORDERS_COLUMNS, PRODUCTS_COLUMNS

NAME_COLUMNS = ["name", "surname", "patronymic"]
OUTPUT_COLUMNS = ORDERS_COLUMNS + PRODUCTS_COLUMNS[1:]
BLANK_PATTERN = re.compile(
    r"\d|\s|^(-)$|(^\w{1}$)|(^[aoueiyаяєоуиіїе]{0,}$)|(^[^aoueiyаяєоуиіїе]{0,}$)"
)
_NULL_BITS = np.int64(-(2**63))


def clean_name(v: str) -> str:
    v = html.unescape(v).lower()
    v = re.sub(r"\d", "", v)
    return BLANK_PATTERN.sub("", v)


def _read_strings(path: str, columns: list[str]) -> pd.DataFrame:
    """Every column as an Arrow-backed string (empty field -> null)."""
    table = pacsv.read_csv(
        path,
        convert_options=pacsv.ConvertOptions(
            include_columns=columns,
            column_types={c: pa.string() for c in columns},
            strings_can_be_null=True,
        ),
    )
    return table.to_pandas(types_mapper={pa.string(): pd.ArrowDtype(pa.string())}.get)


def read_products(products_csv: str) -> pd.DataFrame:
    products = _read_strings(products_csv, PRODUCTS_COLUMNS)
    products["product_id"] = products["product_id"].astype("int64")
    products["price"] = products["price"].astype(float)
    return products.drop_duplicates(subset="product_id", keep="first")


def pandas_oracle(
    orders_csv: str, products_csv: str, keep: str | None = "first"
) -> pd.DataFrame:
    """``keep`` other than "first" (pandas ``drop_duplicates`` keep; None
    skips dedup) gives the deliberately wrong outputs the tests feed the
    check."""
    orders = _read_strings(orders_csv, ORDERS_COLUMNS)
    orders["sum"] = orders["sum"].str.replace(",", ".", regex=False).astype(float)
    orders["product_id"] = (
        orders["product_id"].str.replace(r"\D", "", regex=True).astype("int64")
    )
    for c in ("order_source_id", "customer_id", "quantity"):
        orders[c] = orders[c].astype("int64")
    orders["order_created_datetime"] = pd.to_datetime(orders["order_created_datetime"])
    if keep is not None:
        orders = orders.drop_duplicates(
            subset=["order_source_id", "product_id"], keep=keep
        )
    for c in NAME_COLUMNS:
        distinct = orders[c].dropna().unique()
        orders[c] = orders[c].map(dict(zip(distinct, map(clean_name, distinct))))
    return orders.merge(read_products(products_csv), how="left", on="product_id")


def _normalized(df: pd.DataFrame) -> pd.DataFrame:
    """One canonical dtype per column: int64 (floats by bit pattern,
    timestamps as UTC microseconds, nulls as a sentinel) or object."""
    out = {}
    for c in OUTPUT_COLUMNS:
        s = df[c]
        if c == "order_created_datetime":
            t = pd.to_datetime(s, utc=True)
            out[c] = (t - pd.Timestamp(0, tz="UTC")) // pd.Timedelta(microseconds=1)
        elif pd.api.types.is_float_dtype(s):
            v = s.to_numpy(dtype=np.float64)
            out[c] = np.where(np.isnan(v), _NULL_BITS, v.view(np.int64))
        elif pd.api.types.is_integer_dtype(s):
            out[c] = s.to_numpy(dtype=np.int64)
        else:
            out[c] = s.astype(object).where(s.notna(), None).to_numpy()
    return pd.DataFrame(out)


def frame_digest(df: pd.DataFrame) -> tuple[int, int]:
    """(rows, order-independent 64-bit sum of row hashes)."""
    if list(df.columns) != OUTPUT_COLUMNS:
        raise ValueError(f"unexpected columns {list(df.columns)}")
    h = pd.util.hash_pandas_object(_normalized(df), index=False).to_numpy()
    return len(df), int(h.sum(dtype=np.uint64))


def read_output(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


def spark_round5(x: np.ndarray) -> np.ndarray:
    """Spark ``round(x, 5)``: HALF_UP on the shortest decimal form.
    numpy's rint is exact away from the .5 boundary; values within 1e-6
    of it take the decimal path."""
    scaled = x * 1e5
    frac = scaled - np.floor(scaled)
    out = np.rint(scaled) / 1e5
    for i in np.nonzero(np.abs(frac - 0.5) < 1e-6)[0]:
        out[i] = float(
            Decimal(repr(float(x[i]))).quantize(Decimal("0.00001"), ROUND_HALF_UP)
        )
    return out


class Scorer:
    """The similarity formula over the products dimension, in numpy."""

    def __init__(self, products: pd.DataFrame):
        self.ids = products["product_id"].to_numpy(np.int64)
        self.price = products["price"].to_numpy(np.float64)
        self.group = products["goods_group"].to_numpy(object)
        self.manu = products["manufacturer"].to_numpy(object)
        self._pos = {int(i): k for k, i in enumerate(self.ids)}

    def scores(self, target_id: int, rows: np.ndarray) -> np.ndarray:
        t = self._pos[target_id]
        tp, p = self.price[t], self.price[rows]
        group = np.where(self.group[rows] == self.group[t], 0.5, 0.0)
        manu = np.where(self.manu[rows] == self.manu[t], 0.2, 0.0)
        price = (1.0 - np.abs(tp - p) / np.maximum(tp, p)) * 0.3
        return spark_round5(group + manu + price)

    def similar(self, target_id: int, candidate_ids) -> dict[int, float]:
        rows = np.array([self._pos[int(c)] for c in candidate_ids if int(c) in self._pos])
        return dict(zip(self.ids[rows].tolist(), self.scores(target_id, rows).tolist()))

    def top_k(self, target_id: int, k: int) -> list[tuple[int, float]]:
        s = self.scores(target_id, np.arange(self.ids.size))
        order = np.lexsort((self.ids, -s))[:k]
        return list(zip(self.ids[order].tolist(), s[order].tolist()))
