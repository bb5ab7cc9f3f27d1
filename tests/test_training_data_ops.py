"""Unit tests for the training-data pipeline function modules (beyond the
oracle-parity gate): semantic properties the SQL compare can't express."""

from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")

from opentelemetry_collector_contrib_spark.functions import (  # noqa: E402
    dedup as dd,
    text as tx,
)
from opentelemetry_collector_contrib_spark.sources import documents as docsrc  # noqa: E402


def test_exact_dedup_finds_planted_duplicates(spark):
    df = spark.createDataFrame(
        [(1, "Hello  world"), (2, "hello world"), (3, "other text")],
        ["doc_id", "text"],
    )
    rows = {r["keep_id"]: r["n_dups"] for r in dd.exact_dedup(df).collect()}
    # whitespace-normalized + lowercased => 1 and 2 collapse
    assert rows == {1: 2, 3: 1}


def test_minhash_lsh_finds_planted_near_dup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different content about spark shuffles and partitions"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], ["doc_id", "text"]
    )
    sh = dd.shingles(df, w=3)
    sigs = dd.minhash_signatures(sh, k=12)
    pairs = {(r["doc_a"], r["doc_b"]) for r in dd.lsh_pairs(sigs, k=12, bands=4).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_identical_docs_collide(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "zeta eta theta iota kappa")],
        ["doc_id", "text"],
    )
    fp = {r["doc_id"]: r["simhash"] for r in dd.simhash(df).collect()}
    assert fp[1] == fp[2]
    assert len(fp[1]) == 16 and set(fp[1]) <= {"0", "1"}


def test_lang_id_on_known_sentences(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and it is happy"),
            (2, "der hund ist nicht mit der katze und das haus"),
            (3, "xyzzy qwerty plugh"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["pred_lang"] for r in tx.lang_id(df).collect()}
    assert out == {1: "en", 2: "de", 3: "und"}


def test_quality_score_ranks_prose_over_junk(spark):
    prose = (
        "the history of the project is long and it is described in the "
        "documents that were written for the archive with care"
    )
    junk = "@@@@ #### !!!! $$$$ %%%%"
    df = spark.createDataFrame([(1, prose), (2, junk)], ["doc_id", "text"])
    out = {r["doc_id"]: r["quality"] for r in tx.quality_score(df).collect()}
    assert out[1] > out[2]
    assert 0.0 <= out[2] <= out[1] <= 1.0


def test_fingerprint_stable_under_local_edit(spark):
    base = " ".join(f"word{i}" for i in range(50))
    edited = base.replace("word49", "changed")  # edit at the very end
    df = spark.createDataFrame([(1, base), (2, edited)], ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in tx.doc_fingerprint(df, w=5).collect()}
    # whole-text hash differs, min-shingle fingerprint usually survives a
    # single localized edit (here: min over 46 shingles, 5 affected)
    assert rows[1]["exact_hash"] != rows[2]["exact_hash"]
    assert rows[1]["fingerprint"] == rows[2]["fingerprint"]


def test_unicode_text_survives_parse_and_dedup(spark):
    rows_in = [
        (1, "2024-01-01T00:00:00Z INFO svc-1: héllo wörld 你好 🎉 items=3"),
        (2, "2024-01-01T00:00:00Z INFO svc-1: héllo wörld 你好 🎉 items=3"),
        (3, "чистый текст без шаблона"),
    ]
    df = spark.createDataFrame(rows_in, ["doc_id", "text"])
    out = {r["keep_id"]: r["n_dups"] for r in dd.exact_dedup(df).collect()}
    assert out == {1: 2, 3: 1}


def test_repetition_signals_hand_computed(spark):
    """Gopher repetition metrics against a hand-computed fixture."""
    from opentelemetry_collector_contrib_spark.functions import text as tx

    df = spark.createDataFrame(
        [
            (1, "a b a b a b\nx y z\nx y z"),
            (2, "all unique words here today"),
            (3, ""),  # token-less doc keeps a row, zero metrics
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in tx.repetition_signals(
            df, top_ns=(2,), dup_ns=(2,)
        ).collect()
    }
    r1 = out[1]
    # 2-grams (11 of them, all len 3): "a b"x3, "b a"x2, "b x"x1,
    # "x y"x2, "y z"x2, "z x"x1 -> top 9/33, dup (3+2+2+2)*3/33
    assert r1["top2gram_char_frac"] == pytest.approx(9 / 33)
    assert r1["dup2gram_char_frac"] == pytest.approx(27 / 33)
    # lines: ["a b a b a b", "x y z", "x y z"] -> 2 of 3 are dups
    assert r1["dup_line_frac"] == pytest.approx(2 / 3)
    assert r1["dup_line_char_frac"] == pytest.approx(10 / 21)
    r2 = out[2]
    assert r2["dup2gram_char_frac"] == 0.0
    assert r2["dup_line_frac"] == 0.0
    assert r2["top2gram_char_frac"] > 0.0  # one of 4 distinct 2-grams
    r3 = out[3]
    assert r3["top2gram_char_frac"] == 0.0 and r3["dup_line_char_frac"] == 0.0


def test_repetition_signals_on_documents(spark, sf_dir):
    """Runs over the documents table; every doc gets exactly one row and
    fractions stay in [0, 1]."""
    from opentelemetry_collector_contrib_spark.functions import text as tx
    from opentelemetry_collector_contrib_spark.sources import documents as d

    docs = d.documents_df(spark, sf_dir)
    out = tx.repetition_signals(docs)
    rows = out.collect()
    assert len(rows) == docs.count()
    frac_cols = [c for c in out.columns if c != "doc_id"]
    for r in rows:
        for c in frac_cols:
            assert 0.0 <= r[c] <= 1.0, (r["doc_id"], c, r[c])


# --- C4 three-sentence-span dedup (Raffel et al. 2020 §2.2) ---

SPAN_DEDUP_SQL = r"""
WITH sents AS (
  SELECT doc_id,
         list_filter(
           string_split(regexp_replace(text, '([.!?]) ', '\\1' || chr(1), 'g'),
                        chr(1)),
           x -> regexp_replace(x, '\s', '', 'g') <> '') AS arr
  FROM documents
), sent_rows AS (
  SELECT doc_id, unnest(arr) AS sent, generate_subscripts(arr, 1) AS spos
  FROM sents
), spans AS (
  SELECT a.doc_id, a.spos AS pos,
         md5(lower(a.sent || ' ' || b.sent || ' ' || c.sent)) AS h
  FROM sent_rows a
  JOIN sent_rows b ON a.doc_id = b.doc_id AND b.spos = a.spos + 1
  JOIN sent_rows c ON a.doc_id = c.doc_id AND c.spos = a.spos + 2
), ranked AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
  FROM spans
), covered AS (
  SELECT DISTINCT r.doc_id, r.pos + o.o AS spos
  FROM ranked r, (SELECT unnest([0, 1, 2]) AS o) o
  WHERE r.rn > 1
), kept AS (
  SELECT s.doc_id, s.spos, s.sent
  FROM sent_rows s LEFT JOIN covered c
    ON s.doc_id = c.doc_id AND s.spos = c.spos
  WHERE c.doc_id IS NULL
), totals AS (
  SELECT doc_id, len(arr)::bigint AS n_tot FROM sents
)
SELECT k.doc_id,
       string_agg(k.sent, ' ' ORDER BY k.spos) AS clean_text,
       count(*)::bigint AS n_kept,
       (any_value(t.n_tot) - count(*))::bigint AS n_removed
FROM kept k JOIN totals t ON k.doc_id = t.doc_id
GROUP BY k.doc_id
"""


def test_span_dedup_hand_computed(spark):
    dup = "Alpha one. Beta two. Gamma three."
    df = spark.createDataFrame(
        [
            (1, dup + " Tail sentence."),
            (2, "Opening line. " + dup + " Different end."),
            (3, dup),  # fully covered -> document disappears
            (4, "No repeats here. Just two sentences."),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r.asDict() for r in dd.span_dedup(df).collect()}
    # doc 1 holds the first occurrence (min doc_id, pos) -> untouched
    assert out[1]["clean_text"] == dup + " Tail sentence."
    assert out[1]["n_removed"] == 0
    # doc 2 loses exactly the three duplicated sentences
    assert out[2]["clean_text"] == "Opening line. Different end."
    assert out[2]["n_kept"] == 2 and out[2]["n_removed"] == 3
    # doc 3 was nothing but the duplicate span -> dropped entirely
    assert 3 not in out
    # doc 4 has < 3 sentences worth of spans shared with nobody
    assert out[4]["n_removed"] == 0


def test_span_dedup_first_occurrence_is_position_ordered(spark):
    # the SAME doc repeats a span twice: the first (lower start pos)
    # occurrence survives, the second is removed
    s = "One fish. Two fish. Red fish."
    df = spark.createDataFrame([(7, s + " Interlude. " + s)], ["doc_id", "text"])
    out = dd.span_dedup(df).collect()[0]
    assert out["clean_text"] == s + " Interlude."
    assert out["n_removed"] == 3


def test_span_dedup_parallelism_invariant(spark):
    df = docsrc.documents_df(spark, "/root/testdata/sf0.001")
    a = sorted(
        dd.span_dedup(df.repartition(1)).collect(), key=lambda r: r["doc_id"]
    )
    b = sorted(
        dd.span_dedup(df.repartition(16)).collect(), key=lambda r: r["doc_id"]
    )
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_span_dedup_matches_duckdb_oracle(spark, sf_dir):
    from tests.oracle_util import compare, duck_con

    con = duck_con(sf_dir)
    try:
        ok, msg = compare(
            dd.span_dedup(docsrc.documents_df(spark, sf_dir)),
            con,
            SPAN_DEDUP_SQL,
        )
    finally:
        con.close()
    assert ok, msg


# --- connected components over the near-dup pair graph ---

def test_duplicate_components_chain_vs_pairwise_drop(spark):
    # edges (2,3) and (1,3) only: 1-2-3 is ONE cluster via 3, but the
    # naive "drop every doc_b" rule keeps {1,2} (under-drop). The
    # component rule keeps exactly min(id) = 1.
    pairs = spark.createDataFrame([(2, 3), (1, 3)], ["doc_a", "doc_b"])
    comp = {
        r["doc_id"]: r["component_id"]
        for r in dd.duplicate_components(pairs).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1}


def test_duplicate_components_disjoint_clusters_and_long_chain(spark):
    # a 6-node path (worst diameter shape) plus a separate 2-cluster
    path = [(i, i + 1) for i in range(10, 15)]
    pairs = spark.createDataFrame(path + [(100, 101)], ["doc_a", "doc_b"])
    comp = {
        r["doc_id"]: r["component_id"]
        for r in dd.duplicate_components(pairs).collect()
    }
    assert all(comp[i] == 10 for i in range(10, 16))
    assert comp[100] == 100 and comp[101] == 100


def test_duplicate_components_matches_duckdb_closure(spark, sf_dir, tmp_path):
    # independent check of the graph algorithm: Spark label propagation
    # vs a DuckDB recursive-CTE transitive closure over the REAL LSH
    # pair graph (pair generation itself is oracle-checked by the
    # dedup_minhash_lsh board row)
    import duckdb

    docs = docsrc.documents_df(spark, sf_dir)
    sigs = dd.minhash_signatures(dd.shingles(docs, w=3, distinct=False), k=12)
    pairs = dd.lsh_pairs(sigs, k=12, bands=4)
    ppath = str(tmp_path / "pairs.parquet")
    pairs.write.mode("overwrite").parquet(ppath)
    got = sorted(
        (r["doc_id"], r["component_id"])
        for r in dd.duplicate_components(pairs).collect()
    )
    con = duckdb.connect()
    want = sorted(
        (int(u), int(c))
        for u, c in con.execute(
            f"""
            WITH RECURSIVE edges AS (
              SELECT doc_a AS u, doc_b AS v FROM '{ppath}/*.parquet'
              UNION SELECT doc_b, doc_a FROM '{ppath}/*.parquet'
            ), reach AS (
              SELECT u, v FROM edges
              UNION
              SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
            )
            SELECT u AS doc_id, least(u, min(v)) AS component_id
            FROM reach GROUP BY u
            """
        ).fetchall()
    )
    con.close()
    assert got == want and len(got) > 0


@pytest.mark.parametrize("seed", [0, 1, 2, 3, 4])
def test_duplicate_components_matches_union_find(spark, seed):
    # algorithmic property check: random graphs vs an independent
    # pure-Python union-find (seeded — deterministic across runs)
    import random

    rng = random.Random(seed)
    n = 40
    edges = sorted(
        {
            tuple(sorted(rng.sample(range(n), 2)))
            for _ in range(rng.randint(5, 60))
        }
    )
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    vertices = {v for e in edges for v in e}
    want = sorted((v, find(v)) for v in vertices)

    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    got = sorted(
        (r["doc_id"], r["component_id"])
        for r in dd.duplicate_components(pairs).collect()
    )
    assert got == want


def test_span_dedup_no_phantom_trailing_sentence(spark):
    # regression: text ending '. ' produced a phantom '' sentence that
    # inflated n_kept and gave every such doc a shared md5('') span
    from opentelemetry_collector_contrib_spark.functions import dedup as dd

    docs = spark.createDataFrame(
        [(1, "One two. Three four.  "), (2, "Alpha beta. Gamma delta. \n")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in dd.span_dedup(docs, span=1).collect()}
    # two real sentences each, nothing shared -> all kept, none removed
    assert out[1]["n_kept"] == 2 and out[1]["n_removed"] == 0
    assert out[2]["n_kept"] == 2 and out[2]["n_removed"] == 0
