"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The generator and statistics tests take a second; the smoke tests run
each workload end to end at a reduced size (about a minute each).
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
from stats import CATALOG_LAYER, END_TO_END, PER_LAYER, TAIL_BEYOND, TAIL_MIN_OPS, tail  # noqa: E402


def _read(path):
    import pyarrow.parquet as pq

    return pq.read_table(path)


# -- generator ------------------------------------------------------------------

def test_tables_are_deterministic_per_seed(tmp_path):
    a, b, c = (tmp_path / x for x in "abc")
    gen.write_tables(str(a), 0.001, seed=5)
    gen.write_tables(str(b), 0.001, seed=5)
    gen.write_tables(str(c), 0.001, seed=6)
    for name in ("orders", "lineitem", "documents", "embeddings", "events"):
        ta, tb, tc = (_read(d / f"{name}.parquet") for d in (a, b, c))
        assert ta.equals(tb), name
        assert not ta.equals(tc), name


def test_note_stream_is_deterministic_and_seed_dependent():
    a = gen.note_stream(3, 100, 20, 6, 3, 4)
    b = gen.note_stream(3, 100, 20, 6, 3, 4)
    c = gen.note_stream(4, 100, 20, 6, 3, 4)
    assert a.bulk.equals(b.bulk) and a.erasures == b.erasures
    assert all(x.equals(y) for x, y in zip(a.increments, b.increments))
    assert not a.increments[0].equals(c.increments[0])
    assert a.erasures != c.erasures
    # erasures follow the first and every third increment, and by
    # default name only notes committed before that increment
    assert [bool(e) for e in a.erasures] == [True, False, False] * 2
    committed = set(a.bulk.column("note_id").to_pylist())
    for inc, gone in zip(a.increments, a.erasures):
        assert set(gone) <= committed
        committed |= set(inc.column("note_id").to_pylist())
        committed -= set(gone)
    d = gen.note_stream(3, 100, 20, 6, 3, 4, erase_recent=2)
    new_ids = set(d.increments[3].column("note_id").to_pylist())
    assert len(set(d.erasures[3]) & new_ids) == 2


def test_index_commits_are_deterministic_and_seed_dependent():
    a = gen.index_commits(1, 50, 100, 6, 5, 10, 3, 4)
    b = gen.index_commits(1, 50, 100, 6, 5, 10, 3, 4)
    c = gen.index_commits(2, 50, 100, 6, 5, 10, 3, 4)
    assert a[0].equals(b[0]) and a[1].equals(b[1])
    assert [k for k, *_ in a[2]] == ["erase", "append", "append"] * 2
    for (ka, da, oa), (kb, db, ob) in zip(a[2], b[2]):
        assert ka == kb and da.equals(db) and oa.equals(ob)
    assert not a[2][0][1].equals(c[2][0][1])
    # an erasure names live documents with their committed text
    seeded = {r["doc_id"]: r["text"] for r in a[0].to_pylist()}
    for kind, docs, _ in a[2]:
        rows = docs.to_pylist()
        if kind == "erase":
            assert all(seeded.pop(r["doc_id"]) == r["text"] for r in rows)
        else:
            seeded.update({r["doc_id"]: r["text"] for r in rows})


def test_query_order_is_a_seeded_permutation_per_pass():
    names = [f"q{i}" for i in range(18)]
    a = gen.query_order(1, names, 3)
    assert a == gen.query_order(1, names, 3)
    assert a != gen.query_order(2, names, 3)
    assert all(sorted(p) == sorted(names) for p in a)
    assert a[0] != a[1]


# -- statistics -----------------------------------------------------------------

@pytest.mark.parametrize("n", [0, 1, 10, 19, 20, 21, 37, 100, 1000])
def test_tail_keeps_ten_samples_beyond_and_needs_twenty_ops(n):
    values = [float(i) for i in range(n)]
    got = tail(values[::-1])
    if n < TAIL_MIN_OPS:
        assert got is None
        return
    assert got["samples"] == n
    assert sum(v > got["value"] for v in values) == TAIL_BEYOND
    # and it is the highest such percentile: one rank up leaves fewer
    assert sum(v > got["value"] + 1 for v in values) < TAIL_BEYOND
    assert got["percentile"] == pytest.approx(100.0 * (n - TAIL_BEYOND) / n, abs=0.01)


# -- metric catalogue -----------------------------------------------------------

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_every_metric_has_a_valid_name_and_unit():
    for name, (unit, better) in END_TO_END.items():
        assert NAME.match(name) and UNIT.match(unit) and better in ("lower", "higher")
    for name, unit in {**PER_LAYER, **CATALOG_LAYER}.items():
        assert NAME.match(name) and UNIT.match(unit), name
    assert not set(END_TO_END) & set(PER_LAYER)
    assert not set(PER_LAYER) & set(CATALOG_LAYER)


def test_benchmark_json_matches_the_catalogue():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    from workloads import WORKLOADS

    # catalog_analytics runs by hand only: see README
    assert [w["name"] for w in spec["workloads"]] == ["medallion_cdc", "index_maintenance"]
    assert set(WORKLOADS) == {"medallion_cdc", "index_maintenance", "catalog_analytics"}
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


# -- smoke runs -----------------------------------------------------------------

#: Reduced sizes for the smoke runs (catalog tables at sf0.001). The
#: orders source keeps its size: the quantile gates' rank-error
#: tolerances are set for the sketches' state at that size.
SMOKE = """
import sys
sys.path.insert(0, "perfbench")
import workloads
workloads.CatalogAnalytics.SF = 0.001
workloads.MedallionCdc.BULK, workloads.MedallionCdc.INCREMENT = 200, 40
workloads.IndexMaintenance.N_DOCS, workloads.IndexMaintenance.DOC_ROWS = 500, 20
workloads.IndexMaintenance.ERASE_ROWS = 10
import run
sys.exit(run.main(sys.argv[1:]))
"""


def smoke(workload, trace, patch=""):
    p = subprocess.run(
        [sys.executable, "-c", SMOKE.replace("import run", patch + "import run"),
         "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    side, result = json.loads(lines[-2]), json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    want = END_TO_END
    if trace:
        want = {**PER_LAYER, **(CATALOG_LAYER if workload == "catalog_analytics" else {})}
    assert set(result["metrics"]) == set(want)
    for name, m in result["metrics"].items():
        unit = want[name] if trace else want[name][0]
        assert m["unit"] == unit
        if (workload, name) != ("catalog_analytics", "bytes_written_per_input_byte"):
            assert isinstance(m["value"], (int, float)), name
    assert result["attempted"] >= 1
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_runs"))
    return side, result


@pytest.mark.parametrize("workload", ["medallion_cdc", "index_maintenance", "catalog_analytics"])
def test_smoke_run_passes(workload):
    side, result = smoke(workload, trace=0)
    assert result["correct"] and result["failed"] == 0, side["failures"]
    assert all(result["metrics"][k]["value"] > 0 for k in END_TO_END
               if result["metrics"][k]["value"] is not None)


def test_traced_smoke_run_attributes_every_task():
    side, result = smoke("index_maintenance", trace=1)
    assert side["attribution"]["equal"], side["attribution"]
    assert side["attribution"]["jobs_outside_spans"] == 0
    assert result["metrics"]["trace.unattributed_tasks"]["value"] == 0
    assert result["metrics"]["dedup.lsh_refresh_s"]["value"] > 0


#: The gates' reports of a known ledger defect: ``VersionedTable.merge``
#: records a multi-version feed verbatim under one commit version, so a
#: note inserted and erased within one increment resurfaces in gold.
KNOWN_DEFECT = re.compile(r"^(op \d+: gold and silver differ on \d+ note ids|gold digest .*)$")


class KnownLedgerDefect(Exception):
    """The medallion gates failed, and only with the known defect's reports."""


@pytest.mark.xfail(strict=True, raises=KnownLedgerDefect,
                   reason="known ledger defect: a note inserted and erased within one "
                   "increment resurfaces in gold")
def test_medallion_erasing_notes_of_the_same_increment():
    side, result = smoke("medallion_cdc", trace=0,
                         patch="workloads.MedallionCdc.ERASE_RECENT = 10\n")
    if not result["correct"]:
        assert all(KNOWN_DEFECT.match(f) for f in side["failures"]), side["failures"]
        raise KnownLedgerDefect("; ".join(side["failures"]))
