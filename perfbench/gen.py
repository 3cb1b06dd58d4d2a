"""Seeded input generator for the benchmark.

The program only ever sees the directory this module writes. Seed 0 is the
unmodified input (byte-identical copies of the bundled parquet files). Any
other seed derives a corpus of the same shape and cost from the seed-0
documents:

- the vocabulary is permuted by a bijection that maps the tracked entities
  onto each other and every other word onto another non-entity word, so the
  entity set, the word-frequency profile and every document's length in
  tokens are kept while the statistics each entity sees change;
- the row order is shuffled, so partitions hold different documents.

Only `documents.parquet` is rewritten. The other tables are copied as they
are: their timestamp columns would change type if rewritten through DuckDB,
and the registry queries sort their results totally, so a row shuffle of
those tables would not change any output.
"""
import os
import random
import shutil

import duckdb

# The entities E1 and the registry track (graft.Queries.entities).
ENTITIES = ["data", "hash", "join", "query", "scan", "sort", "spark", "table"]
# Kept fixed: the corpus's article words and its duplicate marker.
FIXED = {"a", "the", "dup"}


def vocab_map(vocab, seed):
    """The seeded bijection over `vocab`; identity for seed 0."""
    rnd = random.Random(seed)
    out = {}
    for group in (sorted(w for w in vocab if w in ENTITIES),
                  sorted(w for w in vocab if w not in ENTITIES and w not in FIXED)):
        perm = group[:]
        if seed:
            rnd.shuffle(perm)
        out.update(zip(group, perm))
    out.update((w, w) for w in vocab if w in FIXED)
    return out


def sql_str(s):
    return "'" + s.replace("'", "''") + "'"


def generate(src_dir, dst_dir, seed, docs_only=None):
    """Write the seed's input tables from `src_dir` into `dst_dir`; with
    `docs_only=n`, just the n lowest-id documents of the seed-0 input."""
    os.makedirs(dst_dir, exist_ok=True)
    if docs_only:
        src = sql_str(os.path.join(src_dir, "documents.parquet"))
        dst = sql_str(os.path.join(dst_dir, "documents.parquet"))
        duckdb.execute(f"COPY (SELECT * FROM read_parquet({src}) ORDER BY doc_id "
                       f"LIMIT {int(docs_only)}) TO {dst} (FORMAT PARQUET)")
        return
    for name in sorted(os.listdir(src_dir)):
        if name.endswith(".parquet") and (seed == 0 or name != "documents.parquet"):
            shutil.copyfile(os.path.join(src_dir, name), os.path.join(dst_dir, name))
    if seed == 0:
        return
    src = os.path.join(src_dir, "documents.parquet")
    con = duckdb.connect()
    vocab = [r[0] for r in con.execute(
        f"SELECT DISTINCT unnest(string_split(text, ' ')) FROM read_parquet({sql_str(src)})"
    ).fetchall()]
    m = vocab_map(vocab, seed)
    case = "CASE w " + " ".join(
        f"WHEN {sql_str(k)} THEN {sql_str(v)}" for k, v in sorted(m.items())) + " ELSE w END"
    text = f"array_to_string(list_transform(string_split(text, ' '), w -> {case}), ' ')"
    dst = os.path.join(dst_dir, "documents.parquet")
    con.execute(f"""
        COPY (
          SELECT doc_id, t AS text, lang, source, CAST(length(t) AS BIGINT) AS n_chars
          FROM (SELECT *, {text} AS t FROM read_parquet({sql_str(src)}))
          ORDER BY md5('{int(seed)}:' || CAST(doc_id AS VARCHAR))
        ) TO {sql_str(dst)} (FORMAT PARQUET)""")
    con.close()
