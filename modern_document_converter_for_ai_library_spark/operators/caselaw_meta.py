"""Caselaw DEEP-metadata extraction operator (SURVEY.md §2 addendum
CM1-CM9).

One Arrow kernel stage over (doc_id, text, case_name, court, year,
reporter, source_file) running the legacy comprehensive metadata pass from
``reference_semantics/caselaw_metadata.py`` — the a-caselaw variant's
post-rename enrichment (reference: zOld-Code/step1--Base_FILENAME--
a-caselaw/src/extractors/metadata_extractor.py:120-248): disposition,
opinion author/type, lower-court judge, appellate panel, separate-opinion
votes, counsel of record, docket number, decision date, the
compact-reporter -> legal-citation formatter, and the weighted overall
confidence grade.

Scale shape: map-only — no shuffle, no joins, no driver collects; the
kernel is pure per row. The header families scan bounded windows (at
most the first 8000 chars); the votes family scans the full text (or
full post-marker section) like the reference, but a keyword guard skips
the regex walk on documents without 'concurring'/'dissenting', so the
unbounded case only pays on actual separate-opinion documents. Nested
list-valued fields (panel, votes, counsel) surface as array<string>
columns so downstream ops stay columnar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..plans.rows import map_rows
from ..reference_semantics.case_name_legacy import legacy_case_name_for_doc
from ..reference_semantics.caselaw_dates import legacy_rename_for_doc
from ..reference_semantics.caselaw_metadata import extract_case_metadata

_S = T.StringType()
_A = T.ArrayType(T.StringType())

CASELAW_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", _S),
        T.StructField("case_name", _S),
        T.StructField("court", _S),
        T.StructField("year", _S),
        T.StructField("citation", _S),
        T.StructField("source_file", _S),
        T.StructField("disposition", _S),
        T.StructField("disposition_confidence", _S),
        T.StructField("opinion_author", _S),
        T.StructField("opinion_author_confidence", _S),
        T.StructField("opinion_type", _S),
        T.StructField("opinion_type_confidence", _S),
        T.StructField("lower_court_judge", _S),
        T.StructField("lower_court_judge_confidence", _S),
        T.StructField("panel_members", _A),
        T.StructField("panel_members_confidence", _S),
        T.StructField("concurring", _A),
        T.StructField("dissenting", _A),
        T.StructField("concurring_in_part", _A),
        T.StructField("concurring_dissenting_confidence", _S),
        T.StructField("att_petitioner", _A),
        T.StructField("att_respondent", _A),
        T.StructField("att_appellant", _A),
        T.StructField("att_appellee", _A),
        T.StructField("attorneys_confidence", _S),
        T.StructField("docket_number", _S),
        T.StructField("docket_number_confidence", _S),
        T.StructField("date_decided", _S),
        T.StructField("date_decided_confidence", _S),
        T.StructField("extraction_confidence", _S),
    ]
)

_IN_COLS = ["doc_id", "text", "case_name", "court", "year", "reporter", "source_file"]


def _flatten(doc_id: str, md: dict) -> dict:
    votes = md["concurring_dissenting"]
    atts = md["attorneys"]
    return {
        "doc_id": doc_id,
        "case_name": md["case_name"],
        "court": md["court"],
        "year": md["year"],
        "citation": md["citation"],
        "source_file": md["source_file"],
        "disposition": md["disposition"],
        "disposition_confidence": md.get("disposition_confidence", ""),
        "opinion_author": md["opinion_author"],
        "opinion_author_confidence": md.get("opinion_author_confidence", ""),
        "opinion_type": md["opinion_type"],
        "opinion_type_confidence": md.get("opinion_type_confidence", ""),
        "lower_court_judge": md["lower_court_judge"],
        "lower_court_judge_confidence": md.get("lower_court_judge_confidence", ""),
        "panel_members": md["panel_members"],
        "panel_members_confidence": md.get("panel_members_confidence", ""),
        "concurring": votes["concurring"],
        "dissenting": votes["dissenting"],
        "concurring_in_part": votes["concurring_in_part"],
        "concurring_dissenting_confidence": md.get(
            "concurring_dissenting_confidence", ""
        ),
        "att_petitioner": atts["petitioner"],
        "att_respondent": atts["respondent"],
        "att_appellant": atts["appellant"],
        "att_appellee": atts["appellee"],
        "attorneys_confidence": md.get("attorneys_confidence", ""),
        "docket_number": md["docket_number"],
        "docket_number_confidence": md.get("docket_number_confidence", ""),
        "date_decided": md["date_decided"],
        "date_decided_confidence": md.get("date_decided_confidence", ""),
        "extraction_confidence": md["extraction_confidence"],
    }


def _meta_row(doc_id, text, case_name, court, year, reporter, source_file):
    renamer_result = {
        "case_name": "" if case_name is None else str(case_name),
        "court": "" if court is None else str(court),
        "year": "" if year is None else str(year),
        "reporter": "" if reporter is None else str(reporter),
        "original_filename": "" if source_file is None else str(source_file),
    }
    md = extract_case_metadata(renamer_result, str(text) if text is not None else "")
    return (_flatten(str(doc_id), md),)


CASE_NAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", _S),
        T.StructField("case_name", _S),
        T.StructField("case_name_source", _S),
    ]
)


def _case_name_row(doc_id, text, source_file):
    res = legacy_case_name_for_doc(
        str(text) if text is not None else "",
        str(source_file) if source_file is not None else "",
    )
    res["doc_id"] = str(doc_id)
    return (res,)


def legacy_case_names(df: DataFrame) -> DataFrame:
    """Run the legacy composed case-name flow (CN1-CN4: caption mining,
    filename fallback, abbreviation expansion, smart party formatting);
    expects ``doc_id``, ``text``, ``source_file``. Map-only Arrow stage,
    same scale shape as :func:`extract_deep_metadata`."""
    return map_rows(
        df.select("doc_id", "text", "source_file"), _case_name_row, CASE_NAME_SCHEMA
    )


LEGACY_RENAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", _S),
        T.StructField("court", _S),
        T.StructField("court_source", _S),
        T.StructField("year", _S),
        T.StructField("year_source", _S),
        T.StructField("case_name", _S),
        T.StructField("case_name_source", _S),
        T.StructField("reporter", _S),
        T.StructField("reporter_source", _S),
        T.StructField("new_filename", _S),
        T.StructField("confidence", _S),
        T.StructField("notes", _A),
    ]
)

_LR_IN = ["doc_id", "text", "file_name", "court", "court_source", "reporter", "reporter_source"]
_LR_COLS = LEGACY_RENAME_SCHEMA.fieldNames()


def _legacy_rename_row(
    doc_id, text, file_name, court, court_source, reporter, reporter_source
):
    res = legacy_rename_for_doc(
        str(text) if text is not None else "",
        str(file_name) if file_name is not None else "",
        None if court is None or court == "" else str(court),
        None if court_source is None or court_source == "" else str(court_source),
        None if reporter is None or reporter == "" else str(reporter),
        None if reporter_source is None or reporter_source == "" else str(reporter_source),
    )
    res["doc_id"] = str(doc_id)
    return ({k: res.get(k) for k in _LR_COLS},)


def legacy_rename_records(df: DataFrame) -> DataFrame:
    """Run the composed legacy rename flow (DY1-DY3: decision-year label
    walk with filename fallback, caption-mined case name, source-based
    confidence, the legacy c.-template with sanitize/truncate); expects
    ``doc_id``, ``text``, ``file_name`` plus injected court/reporter
    resolution columns. Map-only Arrow stage."""
    return map_rows(df.select(*_LR_IN), _legacy_rename_row, LEGACY_RENAME_SCHEMA)


def extract_deep_metadata(df: DataFrame) -> DataFrame:
    """Run the legacy deep-metadata pass; expects ``doc_id``, ``text``
    (full extracted document text) and the renamer-result columns
    ``case_name``, ``court``, ``year``, ``reporter``, ``source_file``;
    returns one row per document with the full enrichment record
    (CASELAW_META_SCHEMA)."""
    return map_rows(df.select(*_IN_COLS), _meta_row, CASELAW_META_SCHEMA)
