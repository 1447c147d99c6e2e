"""Seeded input generator for the label-mapper benchmark.

Writes the tables a workload reads, in the schema and value domains of
the engine's synthetic test data (documents, part, events), from nothing but the workload's table spec and a seed.
The same (spec, seed) always yields identical tables, so a run reuses
an earlier run's inputs and the DuckDB oracle answer cached for them.

Near-duplicates are planted by seeded word edits of earlier documents,
not by replicating the table, so dedup and cluster work follow a known
share instead of the replication factor.
"""
import hashlib
import json
import os
import shutil
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bumped whenever the output for a given (spec, seed) changes, so cached
# inputs and oracle answers are never reused across generator versions.
GENERATOR_VERSION = 1

WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.41, 0.14, 0.15, 0.15, 0.15]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]


def documents(rng, spec):
    n = spec["rows"]
    vocab = np.array(WORDS)
    texts = [" ".join(vocab[rng.integers(0, len(WORDS), k)])
             for k in rng.integers(10, 101, n)]
    # plant near-duplicates: a seeded one- or two-word edit of an earlier doc
    dups = np.sort(rng.choice(np.arange(1, n), int(n * spec["near_dup_share"]),
                              replace=False))
    for i in dups:
        words = texts[int(rng.integers(0, i))].split(" ")
        for _ in range(int(rng.integers(1, 3))):
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        texts[i] = " ".join(words)
    langs = rng.choice(LANGS, n, p=LANG_WEIGHTS)
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs.tolist()),
        "source": pa.array([f"src{i % spec['sources']}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return table, {"near_duplicates": int(len(dups)),
                   "lang_mix": {l: int((langs == l).sum()) for l in LANGS}}


def part(rng, spec):
    n = spec["rows"]
    names = [f"{ADJECTIVES[a]} {NOUNS[b]}"
             for a, b in zip(rng.integers(0, 8, n), rng.integers(0, 8, n))]
    return pa.table({
        "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
        "p_name": pa.array(names),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n).tolist()),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n) % 1000) * 0.1, 1)),
    }), {}


def events(rng, spec):
    n = spec["rows"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 24 * 3600 * 10**6, n))
    users = rng.integers(0, spec["users"], n).astype(np.int64)
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(start + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(users),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n).tolist()),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    return table, {"distinct_users": int(len(np.unique(users)))}


GENERATORS = {"documents": documents, "part": part, "events": events}


def _write(table, path, shards):
    """One parquet file, or a directory of `shards` files; Spark and
    DuckDB both read either through the `<name>.parquet` path."""
    if shards <= 1:
        pq.write_table(table, path)
        return
    os.makedirs(path)
    n = table.num_rows
    for i in range(shards):
        lo, hi = n * i // shards, n * (i + 1) // shards
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{i:05d}.parquet"))


def generate(tables, seed, root):
    """Write every table of `tables` ({name: spec}) for `seed` under a
    directory of `root` named by a digest of (generator version, spec,
    seed), unless it is already there. Returns (dir, manifest)."""
    key = json.dumps([GENERATOR_VERSION, tables, seed], sort_keys=True)
    out = os.path.join(root, hashlib.sha256(key.encode()).hexdigest()[:16])
    manifest_path = os.path.join(out, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return out, json.load(f)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    manifest = {"seed": seed, "generator_version": GENERATOR_VERSION, "tables": {}}
    for name, spec in sorted(tables.items()):
        # one independent stream per table, so adding a table to a workload
        # leaves the other tables of the same seed unchanged
        rng = np.random.default_rng([seed, zlib.crc32(name.encode())])
        table, props = GENERATORS[name](rng, spec)
        _write(table, os.path.join(tmp, f"{name}.parquet"), spec.get("shards", 1))
        manifest["tables"][name] = dict(spec, **props)
    digest = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(tmp)):
        for fn in sorted(files):
            with open(os.path.join(dirpath, fn), "rb") as f:
                digest.update(fn.encode())
                digest.update(f.read())
    manifest["fingerprint"] = digest.hexdigest()[:16]
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, manifest
