"""Seeded input generator.

Derives one workload's input tables from the read-only sf0.1 corpus and
writes them, one parquet file per table, to a directory that is cached per
(workload recipe, seed). The seed drives the row order and the salt tags;
the same seed always gives the same bytes. The sampled rows are the same
for every seed, so seeds differ in layout, not in the work a query does.

Recipe per table (see workloads.py):
  copies    replicate the table this many times; copy k shifts the table's
            key by k * SHIFT so keys stay unique and joins stay within a copy
  fraction  keep an exact-size sample of the base rows, the same for every
            seed, chosen by hashing the sampled key; `sample` names another
            table's key to sample by, so orders and their lineitems are kept
            together
  salt      (documents) salt every copy's words with the copy's tag, so no
            word shingle and no 20-char gram crosses copies: duplication
            density stays constant and dedup pair counts grow linearly
            (the `ScaleSmoke.stageSalted` v2 rule: a tag after every 8
            characters of a word and at its end)
Tables without a recipe are copied byte for byte.
"""
import hashlib
import json
import os
import random
import shutil

import duckdb

SHIFT = 10_000_000
KEYS = {"lineitem": "l_orderkey", "orders": "o_orderkey", "documents": "doc_id",
        "embeddings": "vec_id"}
# every row-group of a generated table holds all its rows, like the corpus
# it derives from (one file, one row group per table); scan parallelism
# then comes from the engine, not from the input layout
ROW_GROUP_ROWS = 100_000_000


# bumped whenever the rows a recipe yields change, so cached inputs of an
# older generator are not reused
VERSION = 2


def recipe_key(recipe):
    return hashlib.sha256(json.dumps([VERSION, recipe], sort_keys=True).encode()).hexdigest()[:12]


def salt_tags(seed, copies):
    rng = random.Random(seed)
    # the copy index leads, so tags are distinct and none is a prefix of another
    return [f"{k}{''.join(rng.choice('abcdefghijklmnopqrstuvwxyz') for _ in range(3))}"
            for k in range(copies)]


def generate(src, out, recipe, seed):
    """Write `recipe`'s tables for `seed` under `out`; return the manifest."""
    manifest_path = os.path.join(out, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return json.load(f)
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    con.execute("SET threads=4")
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET temp_directory='{tmp}/duckdb_tmp'")
    tables = {}
    for name, spec in recipe.items():
        path = f"{src}/{name}.parquet"
        dst = f"{tmp}/{name}.parquet"
        if not spec:
            shutil.copyfile(path, dst)
        else:
            copies = spec.get("copies", 1)
            fraction = spec.get("fraction", 1.0)
            key = KEYS[name]
            # the sampled population: this table's own key, or another
            # table's key ("orders.o_orderkey") so related rows stay together
            pop_table, pop_key = spec.get("sample", f"{name}.{key}").split(".")
            tags = salt_tags(seed, copies) if spec.get("salt") else None
            replace = [f"{key} + k * {SHIFT} AS {key}"]
            if tags:
                tag = "list_extract(?, CAST(k AS INTEGER) + 1)"
                replace.append(
                    "array_to_string(list_transform(string_split(text, ' '), "
                    f"w -> regexp_replace(w, '(.{{8}})', '\\1_' || {tag}, 'g') "
                    f"|| '_' || {tag}), ' ') AS text")
            # an exact-size sample (the first n keys in hash order), the
            # same rows for every seed: a seed that picked other rows would
            # change how much work the graph loops and dedup joins do
            pop = f"read_parquet('{src}/{pop_table}.parquet')"
            where = ("" if fraction >= 1.0 else
                     f"WHERE {key} IN (SELECT {pop_key} FROM {pop} ORDER BY hash({pop_key}), {pop_key} "
                     f"LIMIT (SELECT round(count(*) * {fraction}) FROM {pop}))")
            sql = (f"COPY (SELECT * EXCLUDE (file_row_number, k) REPLACE ({', '.join(replace)}) "
                   f"FROM read_parquet('{path}', file_row_number = true), "
                   f"range({copies}) c(k) {where} "
                   f"ORDER BY hash(file_row_number, k, {seed})) "
                   f"TO '{dst}' (FORMAT parquet, ROW_GROUP_SIZE {ROW_GROUP_ROWS})")
            params = [tags, tags] if tags else []
            con.execute(sql, params)
        rows, groups, max_rg = con.execute(
            "SELECT sum(row_group_num_rows) // count(DISTINCT column_id), "
            "count(DISTINCT row_group_id), max(row_group_num_rows) "
            f"FROM parquet_metadata('{dst}')").fetchone()
        tables[name] = {"rows": int(rows), "files": 1, "row_groups": int(groups),
                        "row_group_rows": int(max_rg), "bytes": os.path.getsize(dst),
                        "recipe": spec or "copied"}
        if tags:
            tables[name]["salt_tags"] = tags
    con.close()
    shutil.rmtree(f"{tmp}/duckdb_tmp", ignore_errors=True)
    manifest = {"seed": seed, "source": src, "tables": tables}
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return manifest
