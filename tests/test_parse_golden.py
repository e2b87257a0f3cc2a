"""Golden end-to-end parse fixture (FIXTURES.md §3, SURVEY §5 item 1).

A synthetic registry dump in the reference's line format, with
hand-computed expected outputs for all four tables. Covers: multi-
member-state duplication with conflicting values (first non-empty wins,
scan.py:302-305), status imputation (97-104), meddra_soc fallback
(106-111), casefold exemptions (322-325), IMP sub-blocks with the full
A7 merge matrix (shorter-name, blank-fill, transitive chain), sponsor
set-dedup across case variants (248), both location capture forms
(371-397), a trial with no IMP and no sponsor, and the "database
wraps" duplicate trial id (129-132).
"""

from __future__ import annotations

import pytest

FIXTURE = """\
### PAGE 1 ####
EudraCT Number: 2004-000001-11
Trial Status: Ongoing
A.3 Full title of the trial: A Study of Hypothetical Compound X
A.4.1 Sponsor's protocol code number: PROTO-1
D.8.1 Is a Placebo used in this Trial? Yes
E.1.2 Level: SOC
E.1.2 Classification code: 10000001
National Competent Authority: Austria - competent authority
B.1.1 Name of Sponsor: acme pharma
B.5.1 Name of organisation: acme   pharma gmbh
B.5.6 E-mail: info@acme.example.com
D.IMP: 1
D.2.1.1.1 Trade name: Wonderdrug Extended Release
D.3.1 Product name: wonderdrug
D.IMP: 2
D.2.1.1.1 Trade name: Wonderdrug
D.3.2 Product code: WD-123
F.2.1 Female: Yes
F.2.2 Male: No
EudraCT Number: 2004-000001-11
Trial Status: Completed
P. Date of the global end of the trial: 2010-05-01
National Competent Authority: Belgium - competent authority
B.1.1 Name of Sponsor: ACME PHARMA
D.IMP: 1
D.3.1 Product name: wonderdrug
D.3.2 Product code: WD-123
E.8.6.3 If E.8.6.1 or E.8.6.2 are Yes, specify the regions in which trial sites are planned
United States
Japan
E.8.7 Trial has a data monitoring committee: Yes
### PAGE 2 ####
EudraCT Number: 2004-000002-22
A.3 Full title of the trial: Second Trial
E.1.2 Level: PT
E.1.2 System Organ Class: 10000077
F.2.1 Female: No
F.2.1 Female: Yes
EudraCT Number: 2004-000001-11
Trial Status: Suspended
"""

T1 = "2004-000001-11"
T2 = "2004-000002-22"


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    from eurovision_spark.operators.parse import parse_registry

    p = tmp_path_factory.mktemp("registry") / "dump.txt"
    p.write_text(FIXTURE, encoding="utf8")
    out = parse_registry(spark, str(p))
    return {k: df.collect() for k, df in out.items()}


def _trial(tables, eid):
    return next(r.asDict() for r in tables["trial"] if r.eudract_id == eid)


def test_trial_rows(tables):
    assert {r.eudract_id for r in tables["trial"]} == {T1, T2}


def test_first_non_empty_and_imputation(tables):
    t = _trial(tables, T1)
    # first status 'ongoing' + completion date present -> imputed sentinel
    assert t["overall_status"] == "not ongoing"
    assert t["completion_date"] == "2010-05-01"
    # 'Suspended' from the wrapped duplicate record never overrides
    # official_title is the casefold exemption
    assert t["official_title"] == "A Study of Hypothetical Compound X"
    assert t["sponsor_id"] == "proto-1"


def test_meddra_soc_fallback(tables):
    t1 = _trial(tables, T1)
    assert t1["meddra_level"] == "soc"
    assert t1["meddra_soc"] == "10000001"  # copied from classification
    t2 = _trial(tables, T2)
    assert t2["meddra_level"] == "pt"
    assert t2["meddra_soc"] == "10000077"  # no fallback: genuine capture
    assert t2["meddra_classification"] == ""


def test_bool_encoding_first_wins(tables):
    t1 = _trial(tables, T1)
    assert t1["placebo"] == 1 and t1["female"] == 1 and t1["male"] == 0
    assert t1["rare"] is None  # never captured
    # trial 2: 'No' seen before 'Yes' -> first non-empty wins (A3 dead code)
    assert _trial(tables, T2)["female"] == 0


def test_imp_fuzzy_merge(tables):
    # three entries chained E1~E3 (product) and E2~E3 (code) -> one
    # component; shorter trade survives, blanks fill
    rows = [r for r in tables["imp"] if r.eudract_id == T1]
    assert [(r.trade, r.product, r.code) for r in rows] == [
        ("wonderdrug", "wonderdrug", "wd-123")
    ]
    assert not [r for r in tables["imp"] if r.eudract_id == T2]  # no-IMP trial


def test_sponsor_set_dedup(tables):
    rows = sorted(
        [(r.name, r.org, r.contact, r.email) for r in tables["sponsor"] if r.eudract_id == T1]
    )
    assert rows == [
        ("Acme Pharma", "", "", ""),
        ("Acme Pharma", "Acme Pharma Gmbh", "", "info@acme.example.com"),
    ]
    # no sponsor data at all -> one all-empty row (scan.py:272)
    assert [(r.name, r.org, r.contact, r.email) for r in tables["sponsor"] if r.eudract_id == T2] == [
        ("", "", "", "")
    ]


def test_locations_both_forms(tables):
    locs = sorted(r.location for r in tables["location"] if r.eudract_id == T1)
    assert locs == ["Austria", "Belgium", "Japan", "United States"]
    assert not [r for r in tables["location"] if r.eudract_id == T2]


@pytest.mark.parametrize("max_partition_bytes", [64, 256])
def test_golden_output_identical_at_tiny_split_size(spark, tables, tmp_path, max_partition_bytes):
    """The same fixture read as many tiny file splits: records, their
    IMP/sponsor/location blocks and the trial-id carry-in cross real
    split boundaries, and all four tables equal the golden ones."""
    from eurovision_spark.operators.parse import parse_registry

    p = tmp_path / "dump.txt"
    p.write_text(FIXTURE, encoding="utf8")
    key = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(key)
    spark.conf.set(key, str(max_partition_bytes))
    try:
        assert spark.read.text(str(p)).rdd.getNumPartitions() >= len(FIXTURE) // max_partition_bytes
        got = {k: df.collect() for k, df in parse_registry(spark, str(p)).items()}
    finally:
        spark.conf.set(key, saved)
    assert {k: sorted(v) for k, v in got.items()} == {k: sorted(v) for k, v in tables.items()}


def test_dispatch_labels_are_unique():
    """_first_match dispatches a line on its literal label: two fields
    sharing a label would silently shadow one another."""
    from eurovision_spark import fieldspec

    fields = [*fieldspec.TRIAL_FIELDS, *fieldspec.IMP_FIELDS, *fieldspec.SPONSOR_FIELDS]
    labels = [lab for lab in map(fieldspec.label_literal, fields) if lab is not None]
    assert labels and len(labels) == len(set(labels))


def test_yes_trumps_no_flag(spark, tmp_path_factory):
    from eurovision_spark.operators.parse import parse_registry

    p = tmp_path_factory.mktemp("registry2") / "dump.txt"
    p.write_text(FIXTURE, encoding="utf8")
    trial = parse_registry(spark, str(p), yes_trumps_no=True)["trial"]
    t2 = next(r for r in trial.collect() if r.eudract_id == T2)
    assert t2.female == 1  # intended A3 semantics: later 'yes' wins


def test_parse_empty_input_yields_empty_tables(spark):
    """Zero-line input must produce the 4-table shape, not crash (the
    first page of a failed scrape is a legitimate input)."""
    from eurovision_spark.operators.parse import parse_registry_lines

    empty = spark.createDataFrame([], "line_no: bigint, raw: string")
    tables = parse_registry_lines(empty)
    assert set(tables) == {"trial", "imp", "sponsor", "location"}
    assert all(df.count() == 0 for df in tables.values())


def test_promote_types(spark, tmp_path):
    from pyspark.sql import types as T

    from eurovision_spark.operators.parse import parse_registry, promote_types

    p = tmp_path / "dump.txt"
    p.write_text(
        "EudraCT Number: 2004-000009-99\n"
        "Trial Status: Ongoing\n"
        "F.4.2.2 In the whole clinical trial: 250\n"
        "E.8.1.1 Randomised: Yes\n"
        "P. Date of the global end of the trial: 2007-03-15\n"
    )
    trial = promote_types(parse_registry(spark, str(p))["trial"])
    row = trial.first()
    schema = {f.name: f.dataType for f in trial.schema.fields}
    assert schema["completion_date"] == T.DateType()
    assert schema["enrollment"] == T.IntegerType()
    assert schema["randomised"] == T.BooleanType()
    assert str(row.completion_date) == "2007-03-15"
    assert row.enrollment == 250
    assert row.randomised is True
    assert row.placebo is None  # never captured -> typed NULL, not ''
