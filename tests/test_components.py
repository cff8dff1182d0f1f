"""Connected-components tests (op96): exact components on crafted
graphs, convergence on chains (worst-case diameter), and the dedup
end-to-end over the documents corpus."""

from __future__ import annotations

import pytest

from pyspark.sql import DataFrame, functions as F

from ocdb_server_spark.operators.graph import connected_components
from ocdb_server_spark.registry import load_all

OPS = load_all()


def _components(spark, edge_list):
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    return {
        r["id"]: r["component"] for r in connected_components(edges).collect()
    }


def test_two_triangles_and_isolated_edge(spark):
    comp = _components(
        spark,
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (20, 21)],
    )
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == comp[12] == 10
    assert comp[20] == comp[21] == 20


def test_chain_worst_case_diameter(spark):
    """A 12-vertex chain needs several propagation rounds — proves the
    loop iterates to convergence, not just once."""
    comp = _components(spark, [(i, i + 1) for i in range(12)])
    assert set(comp.values()) == {0}
    assert len(comp) == 13


def test_bridge_merges_cliques(spark):
    comp = _components(
        spark, [(1, 2), (2, 3), (5, 6), (6, 7), (3, 5)]  # bridge 3-5
    )
    assert len(set(comp.values())) == 1


def test_symmetric_input_irrelevant(spark):
    a = _components(spark, [(1, 2), (2, 3)])
    b = _components(spark, [(2, 1), (3, 2), (1, 2)])  # reversed + dup edges
    assert a == b


def test_minhash_lsh_to_components_composition(spark):
    """The APPROXIMATE candidate path — op79's MinHash-LSH bands —
    feeding connected_components: the 100 TB composition that op96's
    exact-Jaccard certification no longer exercises
    directly. Planted duplicate groups must collapse into single
    min-labeled clusters; the singleton must not appear (vertices
    only exist via edges)."""
    from ocdb_server_spark.operators.dedup import minhash_neardup_pairs

    texts = (
        ["alpha beta gamma delta epsilon zeta eta theta iota kappa"] * 3
        + ["totally different words about cooking pasta with garlic tonight"]
        * 2
        + ["unique solitary text sharing nothing with anything else here"]
    )
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    pairs = minhash_neardup_pairs(docs)
    labels = {
        r["id"]: r["component"]
        for r in connected_components(
            pairs.selectExpr("doc_a AS src", "doc_b AS dst")
        ).collect()
    }
    assert labels[0] == labels[1] == labels[2] == 0
    assert labels[3] == labels[4] == 3
    assert 5 not in labels


def test_op96_clusters_cover_exact_dups(spark, sf_dir):
    """Every exact-duplicate text group must land in one cluster whose
    canonical id is the group's min doc_id."""
    from ocdb_server_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    groups = (
        docs.groupBy("text")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
        .collect()
    )
    # members is a comma-joined string (canonicalizer-safe surface)
    clusters = {
        r["canonical_doc_id"]: {int(m) for m in r["members"].split(",")}
        for r in OPS["op96_dedup_components"].fn(spark, sf_dir).collect()
    }
    for g in groups:
        ids = set(g["ids"])
        # the dup group's members must all share one cluster
        containing = [c for c in clusters.values() if ids <= c]
        assert containing, f"dup group {sorted(ids)} not clustered together"
    # canonical id is always the cluster minimum and a member
    for canon, members in clusters.items():
        assert canon == min(members)


def test_jaccard_pairs_random_differential_vs_sql_template(spark):
    """Randomized differential for the single-fold pair relation:
    random small corpora (planted dup groups, shared phrases, unicode,
    short/empty docs) through the Spark helper AND the SQL template,
    both parameterizations (op89's same-source J>=0.1 and op96/op221's
    cross-source J>=0.5) — the pair SETS and 6dp jaccards must match
    exactly. Guards the template/helper pair against silent drift (one
    side's tokenizer or df-cap changing without the other)."""
    import random

    import duckdb

    from ocdb_server_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_ctes,
    )

    rng = random.Random(20260815)
    vocab = ["alpha", "beta", "gamma", "delta", "nu", "ümlaut", "東京",
             "x1", "y2", "z3", "longishword", "q"]
    rows = []
    doc_id = 0
    for _ in range(6):  # dup groups with light edits
        base = " ".join(rng.choices(vocab, k=rng.randint(4, 12)))
        for _ in range(rng.randint(2, 3)):
            tail = " ".join(rng.choices(vocab, k=rng.randint(0, 2)))
            rows.append((doc_id, (base + " " + tail).strip(),
                         rng.choice(["a", "b"])))
            doc_id += 1
    for _ in range(20):  # unrelated singletons incl. degenerate docs
        rows.append((doc_id,
                     " ".join(rng.choices(vocab, k=rng.randint(0, 8))),
                     rng.choice(["a", "b"])))
        doc_id += 1

    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents(doc_id BIGINT, text VARCHAR, source VARCHAR)"
    )
    con.executemany("INSERT INTO documents VALUES (?, ?, ?)", rows)

    for threshold, same_source in ((0.1, True), (0.5, False)):
        got = {
            (r.doc_a, r.doc_b): round(r.jaccard, 6)
            for r in ngram_jaccard_pairs(
                docs, threshold=threshold, same_source=same_source
            ).collect()
        }
        want = {
            (a, b): round(j, 6)
            for a, b, j in con.execute(
                f"WITH {ngram_jaccard_pairs_ctes(threshold, same_source)} "
                "SELECT doc_a, doc_b, jaccard FROM pairs"
            ).fetchall()
        }
        assert got == want, (threshold, same_source)
        assert want, "degenerate corpus: no pairs found at all"


def test_connected_components_random_differential_vs_recursive_sql(spark):
    """Randomized differential for the CC certification: 30 random
    graphs (mixed cliques, chains, isolated edges, duplicate +
    reversed edges) through the iterative min-label loop AND DuckDB's
    WITH RECURSIVE min-reachable-id fixpoint — labels must be
    identical. This is the engine-vs-independent-recursion check
    op213 established, applied to the dedup family's cluster step."""
    import random

    import duckdb

    rng = random.Random(99)
    for trial in range(30):
        edges = set()
        n = rng.randint(2, 18)
        for _ in range(rng.randint(1, 25)):
            a, b = rng.randint(0, n), rng.randint(0, n)
            if a != b:
                edges.add((a, b))
        if not edges:
            continue
        elist = list(edges) + [
            (b, a) for a, b in list(edges)[: rng.randint(0, len(edges))]
        ]  # some reversed duplicates
        df = spark.createDataFrame(elist, "src long, dst long")
        got = {
            r.id: r.component for r in connected_components(df).collect()
        }
        con = duckdb.connect()
        con.execute("CREATE TABLE e(src BIGINT, dst BIGINT)")
        con.executemany("INSERT INTO e VALUES (?, ?)", elist)
        want = dict(
            con.execute(
                """
WITH RECURSIVE sym AS (
  SELECT src AS a, dst AS b FROM e UNION SELECT dst, src FROM e
),
reach(id, r) AS (
  SELECT DISTINCT a, a FROM sym
  UNION
  SELECT s.a, reach.r FROM sym s JOIN reach ON reach.id = s.b
)
SELECT id, MIN(r) FROM reach GROUP BY id
"""
            ).fetchall()
        )
        assert got == want, f"trial {trial}: {sorted(elist)}"


# ---------------------------------------------------------------------------
# op132 composition path (BASELINE.md 17g/18a)
# ---------------------------------------------------------------------------


def editdist_verify_pairs(
    docs: DataFrame, pairs: DataFrame, threshold: float = 0.7
) -> DataFrame:
    """op132's Levenshtein verify stage, decoupled from its shape-block
    candidate generator — the 100 TB COMPOSITION path (BASELINE.md
    17g/18c): `pairs` (columns id_a < id_b) comes from a corpus-stable
    signature generator (op79 MinHash banding / op88 SimHash chunks,
    exactly as the op96/op221 dedup pipeline sources its candidates),
    the texts join back by doc_id, and the same edit-distance +
    relative-threshold predicate as op132 decides. Output schema is
    op132's (id_a, id_b, edit_dist, edit_ratio).

    Scale shape: two hash joins of a small pair set against the
    documents table on its key (candidates from signatures are
    O(near-dups), not O(n²)), then a per-row Levenshtein — no
    self-join, no value-shape blocking, bucket sizes corpus-stable.

    Relation to op132 (BASELINE.md 18a), pinned below: in the near-dup
    regime (edit_ratio ≤ 0.3) this path STRICTLY DOMINATES the shape block —
    it recovers every regime pair op132 finds with identical
    (edit_dist, edit_ratio) values, and finds the near-dups the
    equality block structurally misses (a single-token edit usually
    changes the word count or the n_chars/10 bucket, so at sf0.1 the
    shape block sees 1 of the corpus's 256 true near-dup pairs; this
    path sees all 256). The shape block's 0.6–0.7 tail — same-shape,
    token-wise unrelated texts — is a threshold artifact this path
    does not (and should not) reproduce."""
    d = docs.select("doc_id", "text")
    j = pairs.select("id_a", "id_b").join(
        d.select(F.col("doc_id").alias("id_a"), F.col("text").alias("text_a")),
        "id_a",
    ).join(
        d.select(F.col("doc_id").alias("id_b"), F.col("text").alias("text_b")),
        "id_b",
    )
    lev = F.levenshtein(F.col("text_a"), F.col("text_b"))
    ratio = lev.cast("double") / F.greatest(
        F.length(F.col("text_a")), F.length(F.col("text_b"))
    )
    return (
        j.select(
            "id_a",
            "id_b",
            lev.cast("bigint").alias("edit_dist"),
            ratio.alias("edit_ratio"),
        )
        .filter(F.col("edit_ratio") <= threshold)
    )


def _composed_neardups(spark, sf_dir, docs):
    """The measured 100 TB path for edit-distance near-dup detection:
    op79 MinHash ∪ op88 SimHash candidates → op132's Levenshtein
    verify stage (editdist_verify_pairs)."""
    from ocdb_server_spark.operators.dedup import minhash_neardup_pairs

    mh = minhash_neardup_pairs(docs).selectExpr(
        "doc_a AS id_a", "doc_b AS id_b"
    )
    sh = OPS["op88_simhash_neardup"].fn(spark, sf_dir).selectExpr(
        "least(doc_a, doc_b) AS id_a", "greatest(doc_a, doc_b) AS id_b"
    )
    return editdist_verify_pairs(docs, mh.unionByName(sh).distinct())


def test_op132_composition_recovers_planted_neardups(spark, tmp_path):
    """17g documents composition (op79/op88 signatures → Levenshtein
    verify) as op132's 100 TB path; this pins it with a planted
    fixture, matching the op96/op221 precedent. Two plants over a
    corpus of mutually-unrelated docs (distinct word pools AND
    distinct word counts, so the shape block yields no cross-base
    pairs):

    - doc 100 = doc 0 with one word swapped for an equal-length word:
      SAME (lang, nw, cb) shape block, so BOTH paths must find it —
      with identical (edit_dist, edit_ratio) values.
    - doc 101 = doc 1 with one word appended: word count changes, so
      the shape block STRUCTURALLY misses it (the measured recall
      asymmetry: 1-vs-256 regime pairs at sf0.1) while the
      composed path must still find it."""
    import random

    rng = random.Random(18)
    words = lambda pool, n: [  # noqa: E731
        f"{pool}{rng.randint(0, 40):02d}x" for _ in range(n)
    ]
    rows = []
    for i in range(10):
        rows.append((i, " ".join(words(f"p{i}q", 20 + i))))
    base0 = rows[0][1].split(" ")
    swapped = list(base0)
    swapped[7] = "zzzzzz"[: len(swapped[7])].ljust(len(swapped[7]), "z")
    rows.append((100, " ".join(swapped)))
    rows.append((101, rows[1][1] + " extraw"))
    docs = spark.createDataFrame(
        [(i, t, "en", "synthetic", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf = str(tmp_path / "sfcomp")
    import os

    os.makedirs(sf)
    docs.write.parquet(f"{sf}/documents.parquet")

    shape = {
        (r["id_a"], r["id_b"]): (r["edit_dist"], r["edit_ratio"])
        for r in OPS["op132_editdist_neardup"].fn(spark, sf).collect()
    }
    from ocdb_server_spark.io import load_table

    loaded = load_table(spark, sf, "documents")
    composed = {
        (r["id_a"], r["id_b"]): (r["edit_dist"], r["edit_ratio"])
        for r in _composed_neardups(spark, sf, loaded).collect()
    }
    # same-shape plant: both paths, identical values
    assert (0, 100) in shape and shape[(0, 100)][1] <= 0.3
    assert composed[(0, 100)] == shape[(0, 100)]
    # different-shape plant: composition only
    assert (1, 101) in composed and composed[(1, 101)][1] <= 0.3
    assert (1, 101) not in shape
    # no fabricated regime pairs on either side
    regime = lambda d: {k for k, v in d.items() if v[1] <= 0.3}  # noqa: E731
    assert regime(shape) == {(0, 100)}
    assert regime(composed) == {(0, 100), (1, 101)}


def test_op132_composition_dominates_at_gate_scale(spark, sf_dir):
    """The BASELINE.md 18a measurement, asserted on the real
    corpus: in the near-dup regime (edit_ratio ≤ 0.3) the composed
    path recovers every pair the shape block finds — with identical
    values — and strictly more (28 regime pairs vs 0 at sf0.001,
    25 vs 0 at sf0.01, 256 vs 1 at sf0.1: one-token edits usually
    change nw or the n_chars/10 bucket, so the equality block misses
    them). The shape block's 0.6–0.7 tail is same-shape UNRELATED
    text — signatures never candidate it, and that is correct
    behavior, not a recall bug (17g: no recall-preserving blocking
    exists at this threshold)."""
    from ocdb_server_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    shape = {
        (r["id_a"], r["id_b"]): (r["edit_dist"], r["edit_ratio"])
        for r in OPS["op132_editdist_neardup"].fn(spark, sf_dir).collect()
    }
    composed = {
        (r["id_a"], r["id_b"]): (r["edit_dist"], r["edit_ratio"])
        for r in _composed_neardups(spark, sf_dir, docs).collect()
    }
    shape_regime = {k: v for k, v in shape.items() if v[1] <= 0.3}
    composed_regime = {k: v for k, v in composed.items() if v[1] <= 0.3}
    for k, v in shape_regime.items():  # recovery, with identical values
        assert composed_regime.get(k) == v
    # strict dominance: the corpus has real near-dups the block misses
    assert len(composed_regime) > len(shape_regime)
    assert len(composed_regime) >= 25
    # the loose tail is an artifact: signatures never candidate it
    tail = set(shape) - set(shape_regime)
    assert not (tail & set(composed))
