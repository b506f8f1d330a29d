"""Generators are pure functions of (seed, size); the planted sets hold."""

import corpus


def test_ingest_deterministic_per_seed():
    assert corpus.ingest_docs(5, 40) == corpus.ingest_docs(5, 40)
    assert corpus.ingest_docs(5, 40) != corpus.ingest_docs(6, 40)


def test_curate_planted_sets():
    rows, planted = corpus.curate_docs(9, 400)
    assert (rows, planted) == corpus.curate_docs(9, 400)
    assert corpus.curate_docs(10, 400)[0] != rows
    text = {r[0]: r[2] for r in rows}
    order = [r[0] for r in rows]
    for doc_id in planted["junk"]:
        assert text[doc_id] == corpus.JUNK_TEXT
    for doc_id in planted["exact"]:
        i = order.index(doc_id)
        assert text[doc_id] in {text[d] for d in order[:i]}
    for doc_id in planted["near"]:
        toks = text[doc_id].split(" ")
        assert f"n{order.index(doc_id)}a" in toks
    assert all(planted[k] for k in ("junk", "exact", "near"))


def test_build_cache_round_trip(tmp_path):
    a = corpus.build(str(tmp_path), "curate_funnel", 2, 50)
    b = corpus.build(str(tmp_path), "curate_funnel", 2, 50)
    assert a.root == b.root and a.planted == b.planted and a.rows == b.rows
    import pyarrow.dataset as ds

    assert ds.dataset(a.dirs["docs"]).count_rows() == 50
