"""Tests of the benchmark's generator and checks (no Spark needed).

Run from the root of the repository: ``python3 -m pytest perfbench/tests -q``.
"""

import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


def _files(tmp_path, seed, n_orders=5000, n_products=1000, tag=""):
    o, p = tmp_path / f"o{tag}.csv", tmp_path / f"p{tag}.csv"
    census = gen.generate(seed, n_orders, n_products, str(o), str(p))
    return str(o), str(p), census


def test_same_seed_same_bytes(tmp_path):
    a = _files(tmp_path, 5, tag="a")
    b = _files(tmp_path, 5, tag="b")
    c = _files(tmp_path, 6, tag="c")
    for i in (0, 1):
        with open(a[i], "rb") as x, open(b[i], "rb") as y:
            assert x.read() == y.read()
    with open(a[0], "rb") as x, open(c[0], "rb") as z:
        assert x.read() != z.read()


def test_dirt_shares_within_fixture_ranges(tmp_path):
    """FIXTURES F1-F4 shares, measured from the written file."""
    o, p, census = _files(tmp_path, 3, n_orders=100_000, n_products=20_000)
    raw = pd.read_csv(o, dtype=str, keep_default_na=False)
    products = pd.read_csv(p, dtype=str)
    status = raw["status"].value_counts(normalize=True)
    assert 0.80 <= status["Paid"] <= 0.84
    assert 0.15 <= status["Failed"] <= 0.19
    assert 0 < status["Accepted"] < 0.01 and 0 < status["Waiting_Accepted"] < 0.01
    comma = raw["sum"].str.contains(",").mean()
    letter = raw["product_id"].str.contains(r"\D").mean()
    assert 0.03 <= comma <= 0.05 and 0.07 <= letter <= 0.09
    pid = raw["product_id"].str.replace(r"\D", "", regex=True)
    counts = (raw["order_source_id"] + "/" + pid).value_counts()
    repeated = counts[counts > 1].size / len(raw)
    assert 0.25 <= repeated <= 0.29
    assert 0.05 <= (~pid.isin(products["product_id"])).mean() <= 0.15
    names = raw[["name", "surname", "patronymic"]]
    assert names.apply(lambda c: c.str.contains("&#")).to_numpy().mean() > 0.01
    assert list(raw["name"][: len(gen.F3_GOLDEN)]) == list(gen.F3_GOLDEN)
    assert set(gen.F5_GOLDEN) <= set(products["product_id"].astype(int))
    # the census reports what the file holds
    assert census["decimal_comma"] == pytest.approx(comma)
    assert census["letter_product_id"] == pytest.approx(letter)
    assert census["repeated_pair_rows"] == pytest.approx(repeated)
    assert census["status"]["Paid"] == pytest.approx(status["Paid"])


def _write(df: pd.DataFrame, path: str) -> None:
    os.makedirs(path)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), f"{path}/part-0.parquet")


def test_check_accepts_oracle_and_rejects_wrong_outputs(tmp_path):
    o, p, _ = _files(tmp_path, 9)
    good = oracle.pandas_oracle(o, p)
    _write(good, str(tmp_path / "good"))
    assert run.check_etl_output(str(tmp_path / "good"), o, p) == []

    # dedup skipped: every copy of a repeated key pair survives
    no_dedup = oracle.pandas_oracle(o, p, keep=None)
    assert len(no_dedup) > len(good)
    _write(no_dedup, str(tmp_path / "no_dedup"))
    assert run.check_etl_output(str(tmp_path / "no_dedup"), o, p)

    # last occurrence kept instead of first: same rows, other values
    last = oracle.pandas_oracle(o, p, keep="last")
    _write(last, str(tmp_path / "last"))
    errors = run.check_etl_output(str(tmp_path / "last"), o, p)
    assert any("hash" in e for e in errors)

    # one name left unescaped
    bad = good.copy()
    bad.loc[2, "name"] = "в&#039;ячеславівна"
    _write(bad, str(tmp_path / "bad"))
    errors = run.check_etl_output(str(tmp_path / "bad"), o, p)
    assert any("F3" in e for e in errors)


def test_scorer_reproduces_f5_golden_and_rejects_wrong_lookup(tmp_path):
    _, p, _ = _files(tmp_path, 4)
    scorer = oracle.Scorer(oracle.read_products(p))
    assert scorer.similar(gen.F5_TARGET, list(gen.F5_GOLDEN)) == gen.F5_GOLDEN
    top = scorer.top_k(gen.F5_TARGET, 10)
    assert top[0] == (gen.F5_TARGET, 1.0)
    assert [s for _, s in top] == sorted((s for _, s in top), reverse=True)
    ok = [("top_k", gen.F5_TARGET, None, top)]
    assert run.check_lookups(p, ok, gen.F5_GOLDEN) == []
    wrong = [("top_k", gen.F5_TARGET, None, [(i, s + 1e-5) for i, s in top])]
    assert run.check_lookups(p, wrong, gen.F5_GOLDEN)


def test_spark_round5_is_half_up_on_the_decimal_form():
    x = np.array([0.123455, 0.123445, 0.9726, 1 / 3, 0.000005])
    assert oracle.spark_round5(x).tolist() == [0.12346, 0.12345, 0.9726, 0.33333, 0.00001]


def test_tail_needs_ten_samples_beyond():
    xs = [float(i) for i in range(1, 31)]  # 30 samples
    value, pct = run.tail(xs)
    assert sum(x > value for x in xs) == 10
    assert pct == pytest.approx(100 * 19 / 29)
    assert run.tail(xs[:20]) == (10.5, 50.0)


def test_benchmark_json_matches_the_metrics_run_prints():
    import json

    with open(os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        k: unit for k, (unit, _) in run.PER_LAYER.items()
    }
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
