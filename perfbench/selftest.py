"""Self-tests of the benchmark itself (no Spark needed).

    python3 perfbench/selftest.py

* the same seed gives the same input digest, another seed another one;
* each output check accepts the expected output and rejects a corrupted
  one (an altered row, a missing page, a leaked gate failure, leaked
  PII, a kept contaminated document);
* the metric names and units the benchmark prints match BENCHMARK.json,
  and BENCHMARK.json keeps its name, unit and size limits.

Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from perfbench import check, gen  # noqa: E402


def expect_reject(fn, *args) -> None:
    try:
        fn(*args)
    except check.CheckFailed:
        return
    raise AssertionError(f"{fn.__name__} accepted a corrupted output")


def write_rows(path: str, rows: list, partition_cols=()) -> None:
    shutil.rmtree(path, ignore_errors=True)
    pq.write_to_dataset(pa.Table.from_pylist(rows), path,
                        partition_cols=list(partition_cols) or None)


def test_digests(tmp: str) -> None:
    for name, fn in gen.GENERATORS.items():
        a, b, c = (os.path.join(tmp, f"{name}-{k}") for k in "abc")
        fn(a, 7)
        fn(b, 7)
        fn(c, 8)
        da, db, dc = (gen.input_digest(p) for p in (a, b, c))
        assert da == db, f"{name}: same seed, different inputs"
        assert da != dc, f"{name}: different seeds, same inputs"
    print("ok  input digests: same seed equal, other seed different")


def test_crawl_build_check(tmp: str) -> None:
    inp = gen.gen_crawl_build(os.path.join(tmp, "cb"), 3)
    pages, geo = check.expect_pages(inp)
    limit = check.country_limit_for(check.country_counts(pages, geo))
    expected = check.expect_crawl_build(pages, geo, limit)
    labels = {"en", "de"}
    rows = [dict(r, language="en") for r in expected.values()]
    out = os.path.join(tmp, "cb-out")
    write_rows(out, rows, ("region", "country", "language"))
    check.check_crawl_build(out, expected, labels)
    bad = [dict(r) for r in rows]
    bad[len(bad) // 2]["text"] += " altered"
    write_rows(out, bad, ("region", "country", "language"))
    expect_reject(check.check_crawl_build, out, expected, labels)
    write_rows(out, rows[1:], ("region", "country", "language"))
    expect_reject(check.check_crawl_build, out, expected, labels)
    bad = [dict(r) for r in rows]
    bad[0]["language"] = "xx"
    write_rows(out, bad, ("region", "country", "language"))
    expect_reject(check.check_crawl_build, out, expected, labels)
    print("ok  crawl_build check: rejects an altered text, a missing row "
          "and an unknown label")


def test_training_mix_check(tmp: str) -> None:
    inp = gen.gen_training_mix(os.path.join(tmp, "tm"), 3)
    expected = check.expect_training_mix(inp)
    rows = [{"url": u, "line_id": i, "region": "r", "country": "c",
             "text": t if p is None else t.replace(p, "<PHONE>")}
            for (u, i), (t, p) in sorted(expected.items())]
    out = os.path.join(tmp, "tm-out")
    write_rows(out, rows, ("region", "country"))
    check.check_training_mix(out, expected, inp)
    leak = rows + [dict(rows[0], url=sorted(inp.failing_urls)[0])]
    write_rows(out, leak, ("region", "country"))
    expect_reject(check.check_training_mix, out, expected, inp)
    k = next(i for i, ((u, _), (t, p)) in enumerate(sorted(expected.items()))
             if p is not None)
    pii = [dict(r) for r in rows]
    pii[k]["text"] = sorted(expected.items())[k][1][0]
    write_rows(out, pii, ("region", "country"))
    expect_reject(check.check_training_mix, out, expected, inp)
    dropped = [r for r in rows if r["url"] != rows[len(rows) // 2]["url"]]
    write_rows(out, dropped, ("region", "country"))
    expect_reject(check.check_training_mix, out, expected, inp)
    bad = [dict(r) for r in rows]
    bad[len(bad) // 3]["text"] += " altered"
    write_rows(out, bad, ("region", "country"))
    expect_reject(check.check_training_mix, out, expected, inp)
    print("ok  training_mix check: rejects a gate-failing page, unredacted "
          "PII, a dropped good page and an altered line")


def test_crawl_hygiene_check(tmp: str) -> None:
    inp = gen.gen_crawl_hygiene(os.path.join(tmp, "hy"), 3)
    by_text: dict = {}
    for i, t in inp.docs2.items():
        by_text.setdefault(t, []).append(i)
    keep = {min(g) for g in by_text.values()}
    keep -= inp.contaminated | inp.history_repeats
    rows = [{"doc_id": i, "text": inp.docs2[i]} for i in sorted(keep)]
    out = os.path.join(tmp, "hy-out")
    write_rows(out, rows)
    check.check_crawl_hygiene(out, inp)
    write_rows(out, rows + [{"doc_id": i, "text": inp.docs2[i]}
                            for i in sorted(inp.contaminated)[:1]])
    expect_reject(check.check_crawl_hygiene, out, inp)
    g = next(g for g in inp.standalone_groups if len(g) > 1)
    swapped = [r for r in rows if r["doc_id"] != g[0]] + [
        {"doc_id": g[1], "text": inp.docs2[g[1]]}]
    write_rows(out, swapped)
    expect_reject(check.check_crawl_hygiene, out, inp)
    print("ok  crawl_hygiene check: rejects a contaminated doc and a "
          "non-minimum exact copy")


NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_benchmark_json() -> None:
    from perfbench import run, trace
    from perfbench.workloads import WORKLOADS
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bj = json.load(f)
    assert set(bj) == {"command", "paths", "run_seconds", "workloads",
                       "end_to_end", "per_layer"}, sorted(bj)
    e2e = {m["name"]: m for m in bj["end_to_end"]}
    assert {n: m["unit"] for n, m in e2e.items()} == run.END_TO_END, \
        "end_to_end names/units differ from what run.py prints"
    assert e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    for m in bj["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}, m
        assert 0 < m["bound"] <= 0.25 and m["better"] in ("lower", "higher")
    layer = {m["name"]: m["unit"] for m in bj["per_layer"]}
    assert layer == trace.PER_LAYER, \
        "per_layer names/units differ from what the traced run prints"
    names = [w["name"] for w in bj["workloads"]]
    assert set(names) <= set(WORKLOADS), names
    assert 2 <= len(names) <= 8
    for w in bj["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
    all_names = (names + [m["name"] for m in bj["end_to_end"]]
                 + [m["name"] for m in bj["per_layer"]])
    assert len(all_names) == len(set(all_names)), "duplicate names"
    for n in all_names:
        assert NAME.match(n), n
    for m in bj["end_to_end"] + bj["per_layer"]:
        assert UNIT.match(m["unit"]), m
    assert 1 <= bj["run_seconds"] <= 60
    print("ok  BENCHMARK.json matches the printed metric names and units")


def main() -> int:
    work = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=work)
    try:
        test_digests(tmp)
        test_crawl_build_check(tmp)
        test_training_mix_check(tmp)
        test_crawl_hygiene_check(tmp)
        test_benchmark_json()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
