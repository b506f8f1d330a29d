"""Broadcast court/reporter dimension joins (J1/J2)."""

import os

import pytest

from modern_document_converter_for_ai_library_spark.operators.dims import (
    _load_dims,
    courts_dim,
    reporters_dim,
    resolve_courts,
    resolve_reporters,
)


def test_dims_load(spark):
    c = courts_dim(spark)
    r = reporters_dim(spark)
    assert c.count() > 200  # 202 courts, more (court, pattern) rows
    assert r.count() == 51
    assert {"bluebook", "filename_code", "pattern_lc"} <= set(c.columns)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "Before the Supreme Court of the United States in October"),
        (2, "Appeal from the Eleventh Circuit panel decision"),
        (3, "No court is mentioned in this text at all"),
        (4, "Cited as 328 Ga. App. 524 and later 759 S.E.2d 654"),
        (5, "See 564 U.S. 91 (2011) and 131 S. Ct. 2541"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_resolve_courts(spark, docs):
    out = {r["doc_id"]: r for r in resolve_courts(docs).collect()}
    assert out[1]["bluebook"] == "U.S."
    assert out[1]["filename_code"] == "US"
    assert out[2]["bluebook"] == "11th Cir."
    assert out[3]["bluebook"] is None
    assert len(out) == 5  # left join keeps all docs


def test_resolve_courts_plan_is_broadcast(spark, docs):
    plan = resolve_courts(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_resolve_reporters(spark, docs):
    out = {r["doc_id"]: r for r in resolve_reporters(docs).collect()}
    assert out[4]["reporter_abbrev"] is not None
    # doc 5 cites U.S. (official, priority 1) and S. Ct. (priority 2):
    # priority order must pick U.S.
    assert out[5]["reporter_abbrev"] == "U.S."
    assert out[5]["reporter_official"] is True
    assert out[3]["reporter_abbrev"] is None


def test_resolve_reporters_header_first(spark):
    """The legacy extractor sweeps the first 1000 chars before the body
    (reporter_extractor.py:137-180): a body-only high-priority citation
    must lose to a header citation, but still match when the header is
    clean."""
    filler = ("x " * 600)[:1100]  # pushes the body citation past 1000 chars
    rows = [
        # header cites S.E.2d; body cites U.S. (higher priority) — header wins
        (1, "Smith v. Jones, 759 S.E.2d 654\n" + filler + " see 564 U.S. 91"),
        # no header citation; body U.S. is found by the fallback sweep
        (2, filler + " cited at 564 U.S. 91"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in resolve_reporters(df).collect()}
    assert out[1]["reporter_abbrev"] == "S.E.2d"
    assert out[2]["reporter_abbrev"] == "U.S."
    # disabling the header pass restores whole-text priority order
    out_flat = {
        r["doc_id"]: r
        for r in resolve_reporters(df, header_chars=None).collect()
    }
    assert out_flat[1]["reporter_abbrev"] == "U.S."


# ---------------------------------------------------------------------------
# DIFFERENTIAL: resolve_courts vs the ACTUAL legacy court extractor
# (zOld-Code/step1…/court_extractor.py) over the full 202-court table
# ---------------------------------------------------------------------------

_ZOLD_COURT_EXTRACTOR = (
    "/root/reference/zOld-Code/step1--Base_FILENAME--a-caselaw/"
    "src/extractors/court_extractor.py"
)
_needs_zold = pytest.mark.skipif(
    not os.path.exists(_ZOLD_COURT_EXTRACTOR),
    reason="legacy court extractor (reference checkout) absent",
)


def _zold_extractor():
    """The legacy CourtExtractor, or None where the reference checkout is
    absent. A present-but-broken reference still raises."""
    import importlib.util

    if not os.path.exists(_ZOLD_COURT_EXTRACTOR):
        return None
    spec = importlib.util.spec_from_file_location(
        "zold_court_extractor", _ZOLD_COURT_EXTRACTOR
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.CourtExtractor()


def _literalize(pat: str) -> str:
    import re

    return re.sub(r"\\\.\??", ".", pat).replace("\\", "")


def _ref_equiv_code(court_key: str, bluebook: str, ref) -> str | None:
    """Map our dim row to the code the legacy extractor would emit: it
    regenerates filename_code from bluebook (court_extractor.py:42-55),
    reverses circuit codes ('1st_Cir' -> 'Cir_1', :96-103), and builds
    district codes as STATE_DIRECTION from its own state map (:105-135)."""
    if court_key == "federal/supreme_court":
        return "US"
    if court_key.startswith("federal/courts_of_appeals/"):
        code = bluebook.replace(".", "").replace(" ", "_")
        if "_Cir" in code:
            num = (
                code.split("_")[0]
                .replace("st", "")
                .replace("nd", "")
                .replace("rd", "")
                .replace("th", "")
            )
            return f"Cir_{num}"
        return code
    if court_key.startswith("federal/district_courts/"):
        _, _, state, district = court_key.split("/")
        dirmap = {
            "Northern": "ND", "Southern": "SD", "Eastern": "ED",
            "Western": "WD", "Middle": "MD", "Central": "CD",
        }
        d = "D"
        for word, abbrev in dirmap.items():
            if word in district:
                d = abbrev
                break
        st = ref._get_state_abbreviation(state.replace("_", " "))
        return f"{st.upper()}_{d}" if st else None
    return bluebook.replace(".", "").replace(" ", "_")


# The reference GENERATES state-court patterns from the court-type key and
# drops qualifiers, so 'Court of Appeals of Texas' first matches Texas's
# criminal_appeals entry (dict order) -> Tex_Crim_App. Our dim keeps the
# JSON's explicit per-court patterns and resolves Tex_App — a deliberate
# divergence from a reference bug, demonstrated by
# test_reference_state_pattern_collapse below.
_KNOWN_DIVERGENT_TEXTS = {
    "Court of Appeals of Texas",
    "Texas Court of Appeals",
}


@_needs_zold
def test_resolve_courts_differential_full_table(spark):
    ref = _zold_extractor()
    dims = _load_dims()["courts"]
    cases = []
    for c in dims:
        k = c["court_key"]
        if k == "federal/supreme_court" or k.startswith("federal/courts_of_appeals/"):
            for p in c["patterns"]:
                cases.append((k, "IN THE " + _literalize(p) + "\nsome body"))
        elif k.startswith("federal/district_courts/"):
            cases.append(
                (k, "United States District Court for the " + c["full_name"] + "\nsome body")
            )
        else:
            for p in c["patterns"]:
                cases.append((k, _literalize(p) + "\nsome body"))

    df = spark.createDataFrame(
        [(i, t) for i, (_, t) in enumerate(cases)], ["i", "text"]
    )
    ours = {
        r["i"]: (r["court_key"], r["bluebook"])
        for r in resolve_courts(df).collect()
    }

    both = ref_only = 0
    covered_courts = set()
    disagreements = []
    for i, (k, t) in enumerate(cases):
        ref_code = ref.extract_from_pdf(t)
        our_key, our_bb = ours.get(i, (None, None))
        if ref_code is None:
            continue  # ref gap (generated state patterns) — ours may still resolve
        if our_key is None:
            ref_only += 1
            disagreements.append(("ref_only", k, t.splitlines()[0], ref_code))
            continue
        both += 1
        covered_courts.add(k)
        if t.splitlines()[0] in _KNOWN_DIVERGENT_TEXTS:
            continue
        if _ref_equiv_code(our_key, our_bb, ref) != ref_code:
            disagreements.append(
                ("mismatch", k, t.splitlines()[0], ref_code, our_key, our_bb)
            )
    assert not disagreements, disagreements[:10]
    assert ref_only == 0
    assert both >= 240 and len(covered_courts) >= 190, (both, len(covered_courts))


def test_resolve_courts_federal_beats_state_regardless_of_position(spark):
    """court_extractor.py:58-80 tries federal categories before state courts
    no matter where they occur in the text — leftmost-match would get this
    wrong. The assertions on the legacy extractor itself run where the
    reference checkout is present."""
    ref = _zold_extractor()
    text = "Supreme Court of Georgia\nOn writ to the SUPREME COURT OF THE UNITED STATES\n"
    if ref is not None:
        assert ref.extract_from_pdf(text) == "US"
    df = spark.createDataFrame([(0, text)], ["i", "text"])
    row = resolve_courts(df).collect()[0]
    assert row["court_key"] == "federal/supreme_court"

    text2 = "Court of Appeals of Georgia\nAppeal from the Eleventh Circuit\n"
    if ref is not None:
        assert ref.extract_from_pdf(text2) == "Cir_11"
    df2 = spark.createDataFrame([(0, text2)], ["i", "text"])
    row2 = resolve_courts(df2).collect()[0]
    assert row2["court_key"] == "federal/courts_of_appeals/11th"


@_needs_zold
def test_reference_state_pattern_collapse(spark):
    """Pin the reference bug behind _KNOWN_DIVERGENT_TEXTS: its generated
    state patterns ignore the criminal/civil qualifier, so the plain Texas
    Court of Appeals resolves to criminal_appeals (first in dict order)."""
    ref = _zold_extractor()
    assert ref.extract_from_pdf("Court of Appeals of Texas\n") == "Tex_Crim_App"
    df = spark.createDataFrame([(0, "Court of Appeals of Texas\n")], ["i", "text"])
    assert resolve_courts(df).collect()[0]["court_key"] == "state/Texas/appeals"
