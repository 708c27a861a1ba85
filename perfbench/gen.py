"""Seeded inputs for the benchmark.

The inputs are the engine's ten sf0.01 test tables, kept as they are in
perfbench/data/sf0.01: the TPC-H-like star schema plus `events`,
`documents` and `embeddings`, the scale the DuckDB correctness oracle
runs at.  A run gets, for its seed:

  * `<root>/data`: a seeded row permutation of every table (same
    content, another order);
  * `<root>/collector` (collector only): a seeded split of `events` and
    of the indexed documents into the batches the run folds in, the
    documents the probes look up, and a seeded retract slice of
    batch 1.

The same seed always writes the same files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# the MinHash member indexes doc_id mod 10 < 8 and probes the rest, so
# the probe set is the docs with doc_id mod 10 >= 8
PROBE_DOCS = 20
# share of batch 1 the retract slice removes again
RETRACT_SHARE = 0.2


def _put(directory, **tables):
    os.makedirs(directory)
    for name, table in tables.items():
        pq.write_table(table, f"{directory}/{name}.parquet")


def _sample(rng, table, share):
    """A seeded `share` of the rows of `table`, in their order."""
    keep = np.zeros(table.num_rows, dtype=bool)
    keep[rng.choice(table.num_rows, int(table.num_rows * share), replace=False)] = True
    return table.filter(pa.array(keep))


def collector_split(rng, ev, docs, batches, out):
    """Each part is a directory holding `events.parquet` and/or
    `documents.parquet`, so the engine's own table loader reads it:
    `b<i>` is batch i of `batches`, `probe` the docs the MinHash and
    BM25 probes look up, `retract` the rows removed from batch 1."""
    ids = docs.column("doc_id").to_numpy()
    base = docs.filter(pa.array(ids % 10 < 8))
    _put(f"{out}/probe",
         documents=docs.filter(pa.array(ids % 10 >= 8)).slice(0, PROBE_DOCS))
    ev_batch = rng.integers(0, batches, ev.num_rows)
    doc_batch = rng.integers(0, batches, base.num_rows)
    parts = [(ev.filter(pa.array(ev_batch == b)), base.filter(pa.array(doc_batch == b)))
             for b in range(batches)]
    for b, (e, d) in enumerate(parts):
        _put(f"{out}/b{b}", events=e, documents=d)
    e1, d1 = parts[1]
    _put(f"{out}/retract", events=_sample(rng, e1, RETRACT_SHARE),
         documents=_sample(rng, d1, RETRACT_SHARE))


def rows(directory):
    """Rows in the parquet files of `directory`."""
    return sum(pq.ParquetFile(os.path.join(directory, f)).metadata.num_rows
               for f in os.listdir(directory))


def generate(workload, seed, root, batches=0):
    """Write every input of `workload` for `seed` under `root`; the
    collector's events and documents go into `batches` batches."""
    rng = np.random.default_rng([seed, ["collector", "dashboard"].index(workload)])
    tables = {}
    for name in TABLES:
        t = pq.read_table(f"{SOURCE}/{name}.parquet")
        tables[name] = t.take(pa.array(rng.permutation(t.num_rows)))
    _put(os.path.join(root, "data"), **tables)
    if workload == "collector":
        collector_split(rng, tables["events"], tables["documents"], batches,
                        os.path.join(root, "collector"))
