"""The exact Jaccard oracle of ``dedup_jaccard_exact_join`` against the
brute-force all-pairs spelling it replaced.

The catalog's oracle finds candidate pairs through an inverted index (a
self-join on the shingle); the brute force below compares every pair of
documents. Both must return the same rows, to the last rounded digit, on
a corpus built to hit the edges (empty, short, NULL and duplicate texts,
pairs just below and above the threshold) and on a slice of the test
tables. No Spark session: both run on DuckDB.

    python tests/test_jaccard_oracle.py <sf_dir> ...

compares the two on each full ``documents`` table and prints the row
counts and times.
"""

from __future__ import annotations

import random
import sys
import time

import duckdb
import pandas as pd

from prajna_spark.queries import registry

BRUTE_FORCE = """
WITH tt AS (
  SELECT doc_id,
         list_filter(string_split_regex(
           trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')),
           ' +'), w -> w <> '') AS tk
  FROM documents
), s AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(tk) - 3, 0) + 1),
           i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]
         )) AS ss
  FROM tt
)
SELECT id_a, id_b, jaccard FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         (floor(len(list_intersect(a.ss, b.ss))
                / CAST(len(list_distinct(list_concat(a.ss, b.ss))) AS DOUBLE)
                * 1e4 + 5e-1) / 1e4) AS jaccard
  FROM s a JOIN s b ON a.doc_id < b.doc_id
  WHERE len(list_distinct(list_concat(a.ss, b.ss))) > 0
) WHERE jaccard >= 6e-1
"""

INVERTED_INDEX = registry()["dedup_jaccard_exact_join"].oracle


def _rows(con, sql: str) -> pd.DataFrame:
    return con.execute(sql).df().sort_values(["id_a", "id_b"], ignore_index=True)


def _both(con) -> tuple[pd.DataFrame, pd.DataFrame]:
    return _rows(con, BRUTE_FORCE), _rows(con, INVERTED_INDEX)


def _edge_corpus() -> pd.DataFrame:
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    base = [" ".join(rng.choice(vocab) for _ in range(30)) for _ in range(12)]
    texts = []
    for b in base:
        words = b.split()
        texts.append(b)
        for n_edits in (1, 2, 3, 5, 8):  # similarity falls through 0.6
            w = list(words)
            for _ in range(n_edits):
                w[rng.randrange(len(w))] = rng.choice(vocab)
            texts.append(" ".join(w))
    texts += [
        "", "one two three", "One, two; THREE four!", "one two three four",
        "one two three four", "a b c d e f g h", "a b c d e f g x",
        "a  b   c d", "   ", None, None, "x y z w " * 5,
    ]
    return pd.DataFrame({"doc_id": range(1, len(texts) + 1), "text": texts})


def test_inverted_index_oracle_matches_brute_force_on_edge_corpus():
    con = duckdb.connect()
    con.register("docs_df", _edge_corpus())
    con.execute("CREATE VIEW documents AS SELECT doc_id, text FROM docs_df")
    brute, inverted = _both(con)
    assert len(brute) > 20  # the corpus does produce pairs at the threshold
    assert brute["jaccard"].min() < 0.7
    pd.testing.assert_frame_equal(brute, inverted)


def test_inverted_index_oracle_matches_brute_force_on_test_docs(sf_dir):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{sf_dir}/documents.parquet') WHERE doc_id IN (SELECT doc_id FROM "
        f"read_parquet('{sf_dir}/documents.parquet') ORDER BY doc_id LIMIT 150)"
    )
    brute, inverted = _both(con)
    pd.testing.assert_frame_equal(brute, inverted)


if __name__ == "__main__":
    for sf in sys.argv[1:]:
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')"
        )
        t0 = time.perf_counter()
        brute = _rows(con, BRUTE_FORCE)
        t1 = time.perf_counter()
        inverted = _rows(con, INVERTED_INDEX)
        t2 = time.perf_counter()
        same = brute.equals(inverted)
        print(f"{sf}: brute force {len(brute)} rows in {t1 - t0:.1f} s, "
              f"inverted index {len(inverted)} rows in {t2 - t1:.1f} s, "
              f"row-for-row {'identical' if same else 'DIFFERENT'}")
