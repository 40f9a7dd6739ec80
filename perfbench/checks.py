"""Output checks for the perfbench workloads, and their self-test.

    python3 perfbench/checks.py --selftest

Each check reads the final state the harness exported (plain parquet) and
the generated inputs, and returns a list of failure messages; an empty list
means the output is correct. The self-test builds a correct output by hand
from generated inputs, shows every check passes it, then breaks it in one
way per check and shows the check catches each break.
"""
import glob
import os
import re
import sys
from decimal import ROUND_HALF_UP, Decimal

import pyarrow.parquet as pq

PSEUDONYM = re.compile(r"^ANON-[0-9a-f]{16}$")
# the customer layers whose erasure policy the medallion workload sets and
# which the relational erasure can rewrite in place
ERASED_LAYERS = ("silver/customer", "gold/dim_customer_snapshot")
CURATION_TABLES = ("corpus", "curated", "shards", "postings", "ann_cells",
                   "ann_vecmap")


def _read(path):
    files = sorted(glob.glob(f"{path}/*.parquet")) if os.path.isdir(path) else [path]
    rows = []
    for f in files:
        rows += pq.read_table(f).to_pylist()
    return rows


def _batches(inputs):
    return sorted(glob.glob(f"{inputs}/batch_*"))


def incremental_rows(inputs):
    """Input rows fed after the first load: batches plus erasure requests
    (medallion) or forget lists (curation)."""
    files = [f for f in glob.glob(f"{inputs}/**/*.parquet", recursive=True)
             if "/load/" not in f and not f.endswith("/eval.parquet")]
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


# ---- medallion_incremental ------------------------------------------------

def _date_key(ts):
    return ts.year * 10000 + ts.month * 100 + ts.day


def _rollup(orders):
    agg = {}
    for date, price in orders.values():
        k = _date_key(date)
        n, s = agg.get(k, (0, Decimal(0)))
        agg[k] = (n + 1, s + Decimal(repr(price)).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP))
    return {k: (n, float(s)) for k, (n, s) in agg.items()}


def final_order_state(inputs):
    """Every order of the load and the batches: each batch brings new
    orders on later dates only."""
    state = {}
    for f in [f"{inputs}/load/orders.parquet"] + [
            f"{b}/orders.parquet" for b in _batches(inputs)]:
        for r in _read(f):
            state[r["o_orderkey"]] = (r["o_orderdate"], r["o_totalprice"])
    return state


def _agg_diff(got, want):
    if set(got) != set(want):
        return f"{len(set(got) ^ set(want))} date_keys differ"
    # both sides sum exact decimals and round once to a double, so a
    # micro-unit tolerance still catches a one-cent error on any day
    bad = [k for k in want if got[k][0] != want[k][0]
           or abs(got[k][1] - want[k][1]) > 1e-6]
    return f"{len(bad)} of {len(want)} days differ (first {min(bad)})" if bad else None


def erased_subjects(inputs):
    ids = set()
    for f in glob.glob(f"{inputs}/requests_*.parquet"):
        ids |= {r["subject_id"] for r in _read(f)
                if r["request_type"] == "erasure" and r["status"] == "processed"}
    return ids


def check_medallion(inputs, export, notes=None):
    failures = []
    got = {r["date_key"]: (r["orders_total"], r["sum_price"])
           for r in _read(f"{export}/agg")}
    diff = _agg_diff(got, _rollup(final_order_state(inputs)))
    if diff:
        failures.append("gold agg_orders_daily is not the daily rollup of the "
                        f"final order state: {diff}")

    subjects = erased_subjects(inputs)
    raw = {r["c_custkey"]: r["c_name"] for r in _read(f"{inputs}/load/customer.parquet")}
    audit = _read(f"{export}/audit")
    audited = {}
    for r in audit:
        audited.setdefault(r["table_name"], []).append(r["subject_fingerprint"])
    for t in ERASED_LAYERS:
        if t not in audited:
            failures.append(f"no erasure audit rows for {t}")
    for t, fps in audited.items():
        if len(fps) != len(subjects) or len(set(fps)) != len(subjects):
            failures.append(f"audit for {t}: {len(fps)} rows, {len(set(fps))} "
                            f"subjects, expected {len(subjects)} of each")
    pseudo = {}
    retained = set()
    for r in _read(f"{export}/names"):
        k, name, layer = r["c_custkey"], r["c_name"], r["layer"]
        if k in subjects and (layer in audited or layer in ERASED_LAYERS):
            if not PSEUDONYM.match(name or ""):
                failures.append(f"erased customer {k} keeps name {name!r} in {layer}")
            pseudo.setdefault(k, set()).add(name)
        elif k in subjects:
            retained.add(k)
        elif name != raw.get(k):
            failures.append(f"customer {k} was never erased but reads {name!r} in {layer}")
    for k, names in pseudo.items():
        if len(names) > 1:
            failures.append(f"erased customer {k} has {len(names)} different pseudonyms")
    if notes is not None:
        notes["unerased_layer_subjects"] = len(retained)
    return failures[:20]


# ---- curation_cycles ----------------------------------------------------

def forgotten_ids(inputs):
    ids = set()
    for f in glob.glob(f"{inputs}/forget_*.parquet"):
        ids |= {r["subject_id"] for r in _read(f)}
    return ids


def check_curation(inputs, export, notes=None):
    import gen
    failures = []
    gone = forgotten_ids(inputs)
    by_table = {}
    for r in _read(f"{export}/ids"):
        by_table.setdefault(r["table_name"], []).append(r["id"])
    for t in CURATION_TABLES:
        ids = by_table.get(t, [])
        if not ids:
            failures.append(f"{t} is empty")
        left = gone.intersection(ids)
        if left:
            failures.append(f"{len(left)} forgotten ids remain in {t}, e.g. {min(left)}")
    exact = [i for i in by_table.get("corpus", [])
             if gen.EXACT_DUP_BASE <= i < gen.NEAR_DUP_BASE]
    if exact:
        failures.append(f"{len(exact)} byte-equal re-submissions landed in the corpus")
    n_docs = sum(r["n_docs"] for r in _read(f"{export}/manifest"))
    shard_rows = len(by_table.get("shards", []))
    if n_docs != shard_rows:
        failures.append(f"manifest n_docs sum {n_docs} != {shard_rows} shard rows")
    if notes is not None:
        notes["corpus_docs"] = len(by_table.get("corpus", []))
    return failures


def check(workload, inputs, export, notes=None):
    return {"medallion_incremental": check_medallion,
            "curation_cycles": check_curation}[workload](inputs, export, notes)


# ---- self-test ----------------------------------------------------------

def _write(rows, path):
    import pyarrow as pa
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows), f"{path}/part-0.parquet")


def _selftest_medallion(tmp, sf_dir):
    import gen
    gen.generate("medallion_incremental", 1, sf_dir, f"{tmp}/m")
    inputs, export = f"{tmp}/m", f"{tmp}/m-export"
    state = final_order_state(inputs)
    agg = [{"date_key": k, "orders_total": n, "sum_price": s}
           for k, (n, s) in sorted(_rollup(state).items())]
    subjects = sorted(erased_subjects(inputs))
    customers = _read(f"{inputs}/load/customer.parquet")
    pseudo = {k: f"ANON-{k:016x}" for k in subjects}

    def names(layer_rows):
        return [{"layer": layer, "c_custkey": r["c_custkey"],
                 "c_name": pseudo.get(r["c_custkey"], r["c_name"])
                 if layer != "bronze/customer" else r["c_name"]}
                for layer in layer_rows for r in customers]
    good = {
        "agg": agg,
        "names": names(("bronze/customer",) + ERASED_LAYERS),
        "audit": [{"subject_fingerprint": f"fp{k}", "table_name": t}
                  for t in ERASED_LAYERS for k in subjects],
    }
    victim = subjects[0]
    bystander = next(r["c_custkey"] for r in customers if r["c_custkey"] not in pseudo)
    broken = {
        "a daily sum off by one cent": dict(good, agg=[
            dict(r, sum_price=r["sum_price"] + 0.01) if i == 3 else r
            for i, r in enumerate(agg)]),
        "a day missing from the rollup": dict(good, agg=agg[1:]),
        "an erased name back in silver": dict(good, names=[
            dict(r, c_name="Customer#raw") if r["c_custkey"] == victim
            and r["layer"] == "silver/customer" else r for r in good["names"]]),
        "a bystander pseudonymized": dict(good, names=[
            dict(r, c_name="ANON-0000000000000000") if r["c_custkey"] == bystander
            else r for r in good["names"]]),
        "an audit row missing": dict(good, audit=good["audit"][1:]),
    }
    return inputs, export, good, broken, check_medallion


def _selftest_curation(tmp, sf_dir):
    import gen
    gen.generate("curation_cycles", 1, sf_dir, f"{tmp}/c")
    inputs, export = f"{tmp}/c", f"{tmp}/c-export"
    gone = forgotten_ids(inputs)
    kept = sorted({r["doc_id"] for f in glob.glob(f"{inputs}/**/docs.parquet",
                                                   recursive=True)
                   for r in _read(f)} - gone)
    kept = [i for i in kept if i < gen.EXACT_DUP_BASE]
    ids = [{"table_name": t, "id": i} for t in CURATION_TABLES for i in kept]
    manifest = [{"n_docs": len(kept) - 10}, {"n_docs": 10}]
    good = {"ids": ids, "manifest": manifest}
    broken = {
        "a forgotten id left in postings": dict(good, ids=ids + [
            {"table_name": "postings", "id": min(gone)}]),
        "a forgotten id left in the ANN cells": dict(good, ids=ids + [
            {"table_name": "ann_cells", "id": max(gone)}]),
        "a manifest count off by one": dict(good, manifest=[
            {"n_docs": len(kept) - 9}, {"n_docs": 10}]),
        "an exact re-submission landed": dict(good, ids=ids + [
            {"table_name": "corpus", "id": gen.EXACT_DUP_BASE + 10_000}]),
    }
    return inputs, export, good, broken, check_curation


def _tree(top):
    """(relative path, bytes) of every file under `top`, and their rows."""
    out = {}
    for f in sorted(glob.glob(f"{top}/**/*", recursive=True)):
        if os.path.isfile(f):
            with open(f, "rb") as fh:
                data = fh.read()
            rows = (pq.ParquetFile(f).metadata.num_rows
                    if f.endswith(".parquet") else None)
            out[os.path.relpath(f, top)] = (data, rows)
    return out


def _selftest_generator(tmp, sf_dir):
    """The same seed writes byte-identical inputs; another seed writes the
    same files with the same row counts (batch sizes, update, erasure and
    forget counts), only other rows."""
    import gen
    ok = True
    for w in ("medallion_incremental", "curation_cycles"):
        trees = []
        for i, seed in enumerate((1, 1, 2)):
            gen.generate(w, seed, sf_dir, f"{tmp}/g{i}")
            trees.append(_tree(f"{tmp}/g{i}"))
        same = trees[0] == trees[1]
        sizes = ({k: r for k, (_, r) in trees[0].items()}
                 == {k: r for k, (_, r) in trees[2].items()})
        differ = any(trees[0][k][0] != trees[2][k][0] for k in trees[0])
        print(f"gen {w}: same seed identical -> {'pass' if same else 'FAILED'}; "
              f"other seed same counts -> {'pass' if sizes else 'FAILED'}, "
              f"other rows -> {'pass' if differ else 'FAILED'}")
        ok &= same and sizes and differ
    return ok


def selftest(tmp, sf_dir):
    ok = _selftest_generator(tmp, sf_dir)
    for build in (_selftest_medallion, _selftest_curation):
        inputs, export, good, broken, fn = build(tmp, sf_dir)
        for name, rows in good.items():
            _write(rows, f"{export}/{name}")
        f = fn(inputs, export)
        print(f"{fn.__name__}: correct output -> {'pass' if not f else f}")
        ok &= not f
        for label, state in broken.items():
            for name, rows in state.items():
                _write(rows, f"{export}/{name}")
            f = fn(inputs, export)
            print(f"{fn.__name__}: {label} -> {'caught: ' + f[0] if f else 'MISSED'}")
            ok &= bool(f)
        for name, rows in good.items():
            _write(rows, f"{export}/{name}")
    return ok


if __name__ == "__main__":
    import shutil
    if sys.argv[1:] != ["--selftest"]:
        sys.exit(__doc__)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))
    tmp = os.path.abspath(".bench_build/selftest")
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        passed = selftest(tmp, sf)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print("selftest", "OK" if passed else "FAILED")
    sys.exit(0 if passed else 1)
