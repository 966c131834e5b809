from __future__ import annotations

from pyspark.sql import functions as F

from kbgen_spark import fixtures as FX


def test_span_schema_and_invariants(docs):
    s = docs.select(F.explode("spans").alias("s"), "doc_id")
    bad = s.filter(
        (
            (F.col("s.kind") == "text")
            & (F.col("s.text").isNull() | F.col("s.media_ref").isNotNull())
        )
        | (
            (F.col("s.kind") != "text")
            & (F.col("s.media_ref").isNull() | F.col("s.text").isNotNull())
        )
    ).count()
    assert bad == 0
    non_mono = docs.select(
        F.expr(
            "forall(transform(sequence(1, size(spans)-1),"
            " i -> spans[i].offset > spans[i-1].offset), x -> x)"
        ).alias("ok")
    ).filter("not ok").count()
    assert non_mono == 0
    assert docs.filter(F.size("spans") < 1).count() == 0


def test_interleave_deterministic(flat_docs):
    a = FX.interleave_documents(flat_docs)
    b = FX.interleave_documents(flat_docs)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_media_kinds_present(docs):
    kinds = {
        r["kind"]
        for r in docs.select(F.explode("spans").alias("s"))
        .select(F.col("s.kind").alias("kind"))
        .distinct()
        .collect()
    }
    assert kinds == {"text", "image", "audio"}


def test_replication(docs):
    r = FX.replicate_documents(docs, 3)
    assert r.count() == docs.count() * 3
    assert r.select("doc_id").distinct().count() == docs.count() * 3


def test_gazetteer_properties(gazetteer):
    g = gazetteer.toPandas()
    # surface forms unique, entity ids well-formed, priors in (0, 1]
    assert g["surface_form"].is_unique
    assert g["entity_id"].str.match(r"^E\d{5}$").all()
    assert ((g["prior"] > 0) & (g["prior"] <= 1.0)).all()
    # plural near-duplicates share the entity of their base form
    base = g.set_index("surface_form")["entity_id"].to_dict()
    plurals = [s for s in base if s + "s" in base]
    assert plurals, "fixture must contain near-duplicate surface forms"
    for s in plurals:
        assert base[s] == base[s + "s"]
    # multi-token phrases present at every configured length (round 5:
    # 2..5-token surfaces so extract is exercised past the old bigram cap)
    assert (g["surface_form"].str.contains(" ")).sum() == FX.N_PHRASES
    n_toks = g["surface_form"].str.split(" ").str.len()
    for n, quota in FX.N_NGRAM_PHRASES.items():
        assert (n_toks == n).sum() == quota, f"{n}-token phrase quota"


def test_gazetteer_matches_bruteforce_reference(flat_docs, gazetteer):
    """Pin build_gazetteer's round-6 plan (window-prefix gram counting,
    two-phase bucketed top-k, plural-variant explode) against a direct
    pure-Python re-derivation of the FIXTURES.md §2 spec over the live
    corpus: every surface, entity id, type and prior must match exactly.
    Guards the quota-pruning argument (a global top-q phrase is top-q in
    its hash bucket) and the rank-offset arithmetic against regressions."""
    from collections import Counter

    texts = [r["text"] for r in flat_docs.select("text").collect()]
    cnt: Counter = Counter()
    for txt in texts:
        toks = txt.split(" ")
        for n in [1, *FX.N_NGRAM_PHRASES]:
            for i in range(len(toks) - n + 1):
                cnt[(n, " ".join(toks[i : i + n]))] += 1
    uni = sorted(
        ((c, g) for (n, g), c in cnt.items() if n == 1),
        key=lambda x: (-x[0], x[1]),
    )
    # (surface, rank) pairs, duplicates kept: a plural variant that
    # collides with a real unigram must show up as a second row, not
    # silently replace the first.
    ranks = [(g, rank0 + 1) for rank0, (c, g) in enumerate(uni)]
    n_uni = len(uni)
    for n, quota in sorted(FX.N_NGRAM_PHRASES.items()):
        grams = sorted(
            ((c, g) for (m, g), c in cnt.items() if m == n),
            key=lambda x: (-x[0], x[1]),
        )[:quota]
        off = FX._phrase_rank_offset(n)
        for nrank0, (c, g) in enumerate(grams):
            ranks.append((g, nrank0 + 1 + off + n_uni))
    # plural variants of the top-N single-token surfaces share the entity
    ranks += [
        (g + "s", rank)
        for g, rank in ranks
        if rank <= FX.N_PLURAL_VARIANTS and " " not in g
    ]
    expected = sorted(
        (
            sf,
            f"E{rank:05d}",
            FX._TYPE_CYCLE[(rank - 1) % len(FX._TYPE_CYCLE)],
            1.0 / rank,
        )
        for sf, rank in ranks
    )
    got = sorted(
        (r["surface_form"], r["entity_id"], r["entity_type"], r["prior"])
        for r in gazetteer.collect()
    )
    assert got == expected
