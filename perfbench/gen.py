"""Seeded input generator for the perfbench workloads.

One process, reading only the sf0.1 testdata tables, writes every input a
workload consumes before the program starts. The program sees only these
files.

Every seed yields the same batch sizes and the same numbers of updates,
erasures and forgets; the seed decides WHICH rows they touch. That keeps a
held-out seed comparable with the seeds used while tuning.

Layout written under `out/` (`plan.properties` holds the counts the harness
schedules from):

medallion_incremental:
  load/customer.parquet, load/orders.parquet        full load
  batch_NNN/customer.parquet, batch_NNN/orders.parquet
  requests_NNN.parquet                              erasure request feed,
                                                    one file per cycle

curation_cycles:
  load/docs.parquet, load/emb.parquet               first batch, empty root
  batch_NNN/docs.parquet, batch_NNN/emb.parquet
  forget_NNN.parquet                                doc ids to forget
  eval.parquet                                      contamination slice
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Orders before this date form the full-load history prefix (~22.7k rows at
# sf0.1); later dates feed the incremental batches, whole days at a time so
# the bronze watermark on o_orderdate never splits a day across batches.
HISTORY_END = dt.datetime(1996, 1, 1)
CUSTOMER_EPOCH = dt.datetime(2020, 1, 1)
REQUEST_EPOCH = dt.datetime(2024, 1, 1)
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

# Medallion batch shape, from the reference's per-run traffic (BASELINE.md,
# "Reference quantitative anchors"): ~10^4 new trips per run, and updates to
# 200 of its 2,000 seed passengers (10%). Here: whole order days adding up to
# ~10^4 new orders (161 days at sf0.1's ~62 orders a day) and attribute
# changes for 10% of the 15,000 customers. The reference's 3,000 trip-status
# updates have no counterpart: bronze extracts orders by o_orderdate past
# its watermark, so a correction that keeps its order date is never read.
# A run holds one batch and one erasure cycle: each call costs ~17 s on a
# 4-core host whatever its size (80 new orders and 20 customer changes: 16.8 s, the median of ten runs;
# ~10^4 orders and 1,500 changes: 16.7-19.9 s over four batches of a run),
# and 48 runs must fit the benchmark's hour. The harness brings the fact to
# version 3 before the batch, so the batch's commit is version 4 and the
# compaction cadence (Runner.CompactEveryVersions) fires once a run.
# Erasure subjects and forgotten documents come in dozens, not a handful:
# an erasure rewrites the buckets its subjects live in, so with a few
# subjects the work (and the time) would depend on how many distinct
# buckets the seed happens to pick. After every `erasure_every`-th batch
# come `erasure_cycles` request cycles, each with its own subjects: a single
# cycle took either ~4.7 s or ~6.1 s at random (3 of 10 runs the slower),
# and the median of three holds one slow cycle out.
MEDALLION = dict(batches=1, days=161, changes=1500, erasure_every=1,
                 erasure_cycles=3, subjects=32)
# The corpus stores have no reference traffic. The sizes split sf0.1's
# 2,000 embedded documents: 800 in the first (ANN-training) batch, 200 new
# ones plus 40 re-submissions in the timed batch. One batch and one forget
# a run, for the same reason as above (a call costs 14-20 s).
CURATION = dict(load=800, batches=1, new=200, exact_dups=20, near_dups=20,
                forget=40, eval_docs=50)

EXACT_DUP_BASE = 1_000_000
NEAR_DUP_BASE = 2_000_000


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _ts(values):
    return pa.array(values, type=pa.timestamp("us"))


def _take(table, idx):
    return table.take(pa.array(np.asarray(idx, dtype=np.int64)))


def _medallion(rng, customer, orders, shape, out):
    custkeys = customer["c_custkey"].to_numpy()
    # erasure subjects never receive a later attribute change: a change
    # landing after the erasure would legitimately bring the raw name back
    cycles = (shape["batches"] // shape["erasure_every"]
              * shape["erasure_cycles"])
    subjects = rng.choice(custkeys, cycles * shape["subjects"], replace=False)
    changeable = np.setdiff1d(custkeys, subjects)

    dates = orders["o_orderdate"].to_numpy()
    history = _take(orders, np.nonzero(dates < np.datetime64(HISTORY_END))[0])
    _write(customer.append_column(
        "updated_at", _ts([CUSTOMER_EPOCH] * customer.num_rows)),
        f"{out}/load/customer.parquet")
    _write(history, f"{out}/load/orders.parquet")

    later = np.nonzero(dates >= np.datetime64(HISTORY_END))[0]
    days = np.unique(dates[later].astype("datetime64[D]"))
    day_of = dates.astype("datetime64[D]")
    for b in range(1, shape["batches"] + 1):
        span = days[(b - 1) * shape["days"]: b * shape["days"]]
        new = _take(orders, np.nonzero(np.isin(day_of, span))[0])
        _write(new, f"{out}/batch_{b:03d}/orders.parquet")

        who = np.sort(rng.choice(changeable, shape["changes"], replace=False))
        rows = _take(customer, np.searchsorted(custkeys, who))
        bal = np.round(rows["c_acctbal"].to_numpy()
                       + rng.uniform(-500, 500, rows.num_rows), 2)
        rows = rows.set_column(rows.schema.get_field_index("c_acctbal"),
                               "c_acctbal", pa.array(bal))
        rows = rows.set_column(rows.schema.get_field_index("c_mktsegment"),
                               "c_mktsegment",
                               pa.array(rng.choice(SEGMENTS, rows.num_rows)))
        stamp = CUSTOMER_EPOCH + dt.timedelta(days=b)
        _write(rows.append_column("updated_at", _ts([stamp] * rows.num_rows)),
               f"{out}/batch_{b:03d}/customer.parquet")

    for c in range(1, cycles + 1):
        ids = subjects[(c - 1) * shape["subjects"]: c * shape["subjects"]]
        at = REQUEST_EPOCH + dt.timedelta(days=c)
        n = len(ids)
        # two out-of-scope rows ride along: an access request and an
        # erasure still pending; the feed filter must drop both
        _write(pa.table({
            "request_id": [f"r{c:03d}-{i}" for i in range(n + 2)],
            "subject_type": ["customer"] * (n + 2),
            "subject_id": pa.array(list(ids) + [int(changeable[c]),
                                                int(changeable[c + 1])],
                                   type=pa.int64()),
            "request_type": ["erasure"] * n + ["access", "erasure"],
            "status": ["processed"] * (n + 1) + ["pending"],
            "processed_at": _ts([at + dt.timedelta(minutes=i)
                                 for i in range(n + 2)]),
        }), f"{out}/requests_{c:03d}.parquet")
    return {k: shape[k] for k in ("batches", "erasure_every", "erasure_cycles")}


def _near(text, rng, vocab):
    words = text.split(" ")
    words[int(rng.integers(len(words)))] = str(rng.choice(vocab))
    return " ".join(words)


def _curation(rng, docs, emb, shape, out, eval_pool):
    with_emb = emb["vec_id"].to_numpy()
    pool = rng.permutation(with_emb)
    texts = dict(zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()))
    vocab = sorted({w for t in list(texts.values())[:200] for w in t.split()})
    doc_pos = {d: i for i, d in enumerate(docs["doc_id"].to_pylist())}
    emb_pos = {v: i for i, v in enumerate(with_emb.tolist())}

    def originals(ids):
        d = _take(docs, [doc_pos[i] for i in ids])
        e = _take(emb, [emb_pos[i] for i in ids])
        return d, e

    eval_ids = np.sort(rng.choice(eval_pool, shape["eval_docs"], replace=False))
    _write(_take(docs, [doc_pos[i] for i in eval_ids]).select(["doc_id", "text"]),
           f"{out}/eval.parquet")

    load_ids = np.sort(pool[:shape["load"]])
    d, e = originals(load_ids)
    _write(d, f"{out}/load/docs.parquet")
    _write(e, f"{out}/load/emb.parquet")
    submitted = list(load_ids)
    forgotten = set()
    cursor = shape["load"]
    for b in range(1, shape["batches"] + 1):
        ids = np.sort(pool[cursor: cursor + shape["new"]])
        cursor += shape["new"]
        d, e = originals(ids)
        # re-submissions of earlier documents under fresh ids: byte-equal
        # copies (exact-dedup rejects them) and one-word edits (near-dup
        # rejects them); neither carries an embedding
        alive = [i for i in submitted if i not in forgotten]
        src = rng.choice(alive, shape["exact_dups"] + shape["near_dups"],
                         replace=False)
        ex, nr = src[:shape["exact_dups"]], src[shape["exact_dups"]:]
        base = b * 10_000
        dups = pa.table({
            "doc_id": pa.array(
                [EXACT_DUP_BASE + base + k for k in range(len(ex))]
                + [NEAR_DUP_BASE + base + k for k in range(len(nr))],
                type=pa.int64()),
            "text": [texts[i] for i in ex] + [_near(texts[i], rng, vocab)
                                             for i in nr],
        })
        rest = _take(d.select([c for c in d.column_names
                               if c not in ("doc_id", "text")]),
                     rng.choice(d.num_rows, dups.num_rows))
        for name in rest.column_names:
            dups = dups.append_column(name, rest[name])
        _write(pa.concat_tables([d, dups.select(d.column_names)]),
               f"{out}/batch_{b:03d}/docs.parquet")
        _write(e, f"{out}/batch_{b:03d}/emb.parquet")
        submitted.extend(ids.tolist())
        gone = rng.choice([i for i in submitted if i not in forgotten],
                          shape["forget"], replace=False)
        forgotten.update(int(g) for g in gone)
        _write(pa.table({"subject_id": pa.array(np.sort(gone), type=pa.int64())}),
               f"{out}/forget_{b:03d}.parquet")
    return {"batches": shape["batches"]}


def generate(workload, seed, sf_dir, out):
    """Write `workload`'s inputs for `seed` under `out`; returns their byte
    count."""
    rng = np.random.default_rng(seed)
    if workload == "medallion_incremental":
        customer = pq.read_table(f"{sf_dir}/customer.parquet").sort_by("c_custkey")
        orders = pq.read_table(f"{sf_dir}/orders.parquet").sort_by(
            [("o_orderdate", "ascending"), ("o_orderkey", "ascending")])
        orders = orders.set_column(
            orders.schema.get_field_index("o_orderdate"), "o_orderdate",
            pc.cast(orders["o_orderdate"], pa.timestamp("us")))
        plan = _medallion(rng, customer, orders, MEDALLION, out)
    elif workload == "curation_cycles":
        docs = pq.read_table(f"{sf_dir}/documents.parquet").sort_by("doc_id")
        emb = pq.read_table(f"{sf_dir}/embeddings.parquet").sort_by("vec_id")
        # the contamination slice comes from documents never submitted
        eval_pool = np.setdiff1d(docs["doc_id"].to_numpy(),
                                 emb["vec_id"].to_numpy())
        plan = _curation(rng, docs, emb, CURATION, out, eval_pool)
    else:
        raise ValueError(f"unknown workload {workload}")
    with open(f"{out}/plan.properties", "w") as f:
        for k in sorted(plan):
            f.write(f"{k}={plan[k]}\n")
    total = 0
    for base, _, files in os.walk(out):
        total += sum(os.path.getsize(os.path.join(base, n))
                     for n in files if n.endswith(".parquet"))
    return total
