"""Declarative field-spec table — the engine's single point of extension.

The reference drives its parser, DDL, and INSERTs from per-table dicts of
``Element(field_type, regex)`` (reference scan.py:13-19, 411-482); adding a
field is one dict entry (scan.py:404). This module reproduces that
property for Spark: one table of ``Field`` specs generates

- the extraction expressions (``regexp_extract`` chains) for the parser,
- the output ``StructType`` schemas,
- the screening pre-filter (scan.py:490-495 rebuilt as one anchored rlike),
- oracle-side DDL when needed.

Regex patterns are the reference's own (scan.py:411-482) with one
difference: matching happens on whitespace-normalized lines
(scan.py:320 ``" ".join(line.split())``) which we do once per line with
``regexp_replace`` before applying any field pattern.

Java regex notes: the reference uses Python ``re.match`` = anchored at
start, not full-line; Spark's ``regexp_extract`` is search-based, so every
pattern here keeps its ``^`` anchor explicitly.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import types as T


@dataclass(frozen=True)
class Field:
    """One extracted field: name, storage type, line regex, case rule.

    ``dtype``      : "text" | "bool01" (yes/no -> 1/0, reference scan.py:115-119)
    ``regex``      : anchored pattern with ONE capture group (group 1 kept)
    ``casefold``   : lower-case the captured value (scan.py:322-325; the
                     official_title is the one exemption)

    The cross-member-state merge rule is not per field: the parser's
    ``yes_trumps_no`` flag (operators/parse.parse_registry) is the one
    switch. Its default is the reference's actual first-non-empty
    behavior (scan.py:302-305); ``yes_trumps_no=True`` applies the
    reference's *intended* yes-trumps-no branch, which is dead code
    there (scan.py:296-301, SURVEY §2.4 A3), to every bool01 field.
    """

    name: str
    dtype: str
    regex: str
    casefold: bool = True


# --- trial table (reference scan.py:411-462) -------------------------------

TRIAL_FIELDS: tuple[Field, ...] = (
    Field("eudract_id", "text", r"^EudraCT Number:\s*(\S+)"),
    Field("overall_status", "text", r"^Trial Status: (.*$)"),
    Field(
        "study_first_submitted_date",
        "text",
        r"^Date on which this record was first entered in the EudraCT database: (.*$)",
    ),
    Field("official_title", "text", r"^A\.3 Full title of the trial: (.*$)", casefold=False),
    Field("sponsor_id", "text", r"^A\.4\.1 Sponsor's protocol code number: (.*$)"),
    Field(
        "isrctn_id",
        "text",
        r"^A\.5\.1 ISRCTN \(International Standard Randomised Controlled Trial\) number: (.*$)",
    ),
    Field(
        "who_utrn_id",
        "text",
        r"^A\.5\.3 WHO Universal Trial Reference Number \(UTRN\): (.*$)",
    ),
    Field("nct_id", "text", r"^A\.5\.2 US NCT \(ClinicalTrials\.gov registry\) number: (NCT\d+)"),
    Field("placebo", "bool01", r"^D\.8\.1 Is a Placebo used in this Trial\? (.*$)"),
    Field("condition", "text", r"^E\.1\.1 Medical condition\(s\) being investigated: (.*$)"),
    Field("meddra_version", "text", r"^E\.1\.2 Version: ([0-9.]+)"),
    Field("meddra_level", "text", r"^E\.1\.2 Level: (.*$)"),
    Field("meddra_classification", "text", r"^E\.1\.2 Classification code: (\d+)"),
    Field("meddra_term", "text", r"^E\.1\.2 Term: (.*$)"),
    Field("meddra_soc", "text", r"^E\.1\.2 System Organ Class: (\d+)"),
    Field("rare", "bool01", r"^E\.1\.3 Condition being studied is a rare disease: (.*$)"),
    Field("fih", "bool01", r"^E\.7\.1\.1 First administration to humans: (.*$)"),
    Field("bioequivalence", "bool01", r"^E\.7\.1\.2 Bioequivalence study: (.*$)"),
    Field("phase1", "bool01", r"^E\.7\.1 Human pharmacology \(Phase I\): (.*$)"),
    Field("phase2", "bool01", r"^E\.7\.2 Therapeutic exploratory \(Phase II\): (.*$)"),
    Field("phase3", "bool01", r"^E\.7\.3 Therapeutic confirmatory \(Phase III\): (.*$)"),
    Field("phase4", "bool01", r"^E\.7\.4 Therapeutic use \(Phase IV\): (.*$)"),
    Field("diagnosis", "bool01", r"^E\.6\.1 Diagnosis: (.*$)"),
    Field("prophylaxis", "bool01", r"^E\.6\.2 Prophylaxis: (.*$)"),
    Field("therapy", "bool01", r"^E\.6\.3 Therapy: (.*$)"),
    Field("safety", "bool01", r"^E\.6\.4 Safety: (.*$)"),
    Field("efficacy", "bool01", r"^E\.6\.5 Efficacy: (.*$)"),
    Field("pk", "bool01", r"^E\.6\.6 Pharmacokinetic: (.*$)"),
    Field("pd", "bool01", r"^E\.6\.7 Pharmacodynamic: (.*$)"),
    Field("randomised", "bool01", r"^E\.8\.1\.1 Randomised: (.*$)"),
    Field("open_design", "bool01", r"^E\.8\.1\.2 Open: (.*$)"),
    Field("single_blind", "bool01", r"^E\.8\.1\.3 Single blind: (.*$)"),
    Field("double_blind", "bool01", r"^E\.8\.1\.4 Double blind: (.*$)"),
    Field("crossover", "bool01", r"^E\.8\.1\.6 Cross over: (.*$)"),
    Field("age_in_utero", "bool01", r"^F\.1\.1\.1 In Utero: (.*$)"),
    Field(
        "age_preterm",
        "bool01",
        r"^F\.1\.1\.2 Preterm newborn infants \(up to gestational age < 37 weeks\): (.*$)",
    ),
    Field("age_newborn", "bool01", r"^F\.1\.1\.3 Newborns \(0-27 days\): (.*$)"),
    Field("age_under2", "bool01", r"^F\.1\.1\.4 Infants and toddlers \(28 days-23 months\): (.*$)"),
    Field("age_2to11", "bool01", r"^F\.1\.1\.5 Children \(2-11years\): (.*$)"),
    Field("age12to17", "bool01", r"^F\.1\.1\.6 Adolescents \(12-17 years\): (.*$)"),
    Field("age18to64", "bool01", r"^F\.1\.2 Adults \(18-64 years\): (.*$)"),
    Field("age_65plus", "bool01", r"^F\.1\.3 Elderly \(>=65 years\): (.*$)"),
    Field("female", "bool01", r"^F\.2\.1 Female: (.*$)"),
    Field("male", "bool01", r"^F\.2\.2 Male: (.*$)"),
    Field("enrollment", "text", r"^F\.4\.2\.2 In the whole clinical trial: (.*$)"),
    Field("network", "text", r"^G\.4\.1 Name of Organisation: (.*$)"),
    Field("completion_date", "text", r"^P\. Date of the global end of the trial: (.*$)"),
)

# --- imp table (scan.py:465-467) -------------------------------------------

IMP_FIELDS: tuple[Field, ...] = (
    Field("trade", "text", r"^D\.2\.1\.1\.1 Trade name: (.*$)"),
    Field("product", "text", r"^D\.3\.1 Product name: (.*$)"),
    Field("code", "text", r"^D\.3\.2 Product code: (.*$)"),
)

# --- sponsor table (scan.py:470-473) ---------------------------------------

SPONSOR_FIELDS: tuple[Field, ...] = (
    Field("name", "text", r"^B\.1\.1 Name of Sponsor: (.*$)"),
    Field("org", "text", r"^B\.5\.1 Name of organisation: (.*$)"),
    Field("contact", "text", r"^B\.5\.2 Functional name of contact point: (.*$)"),
    Field("email", "text", r"^B\.5\.6 E-mail:\s*(\S+@\S+[.]\S+)\s*$"),
)

# --- structural markers (scan.py:476-481) ----------------------------------

IMP_BLOCK_RE = r"D\.IMP: \d+"
LOC_HEADER_RE = r"^National Competent Authority:\s+(\S*)\s+[-]"
LOC_START_RE = r"^E\.8\.6\.3 If E\.8\.6\.1 or E\.8\.6\.2 are Yes"
LOC_ALT_START_RE = r"^E\.8\.6\.3 Specify the countries outside of the EEA"
LOC_END_RE = r"^E\.8\.7 Trial has a data monitoring committee"


def spark_schema(fields: tuple[Field, ...], with_key: bool = False) -> T.StructType:
    """Output StructType for a field-spec table, sorted-name column order.

    Mirrors the reference's deterministic ``sorted(dict)`` DDL/INSERT
    ordering (scan.py:75-80, 127-128). Empty string = missing (no NULLs),
    bool01 fields are int 0/1 — SURVEY §7 hard item 5.
    """
    cols: list[T.StructField] = []
    if with_key:
        cols.append(T.StructField("eudract_id", T.StringType(), False))
    for f in sorted(fields, key=lambda f: f.name):
        dt = T.IntegerType() if f.dtype == "bool01" else T.StringType()
        cols.append(T.StructField(f.name, dt, True))
    return T.StructType(cols)


def screening_regex() -> str:
    """One anchored alternation that screens lines cheaply before the
    per-field regex dispatch.

    The reference pre-filters each line on ~60 literal 7-char prefixes
    (scan.py:336, 490-495) before trying any field regex. Rebuilt as a
    single compiled alternation of the full label prefixes — one regex
    pass instead of 60 substring scans per line.
    """
    import re as _re

    prefixes: set[str] = set()
    for f in (*TRIAL_FIELDS, *IMP_FIELDS, *SPONSOR_FIELDS):
        # strip anchor, unescape for literal prefix, take the label part
        pat = f.regex.lstrip("^")
        literal = _re.sub(r"\\(.)", r"\1", pat.split("(")[0])
        prefixes.add(_re.escape(literal[:10]))
    for pat in (IMP_BLOCK_RE, LOC_HEADER_RE, LOC_START_RE, LOC_ALT_START_RE, LOC_END_RE):
        literal = _re.sub(r"\\(.)", r"\1", pat.lstrip("^").split("(")[0])
        prefixes.add(_re.escape(literal[:10]))
    return "^(" + "|".join(sorted(prefixes)) + ")"


def label_literal(field: Field) -> str | None:
    """The literal line label of a ``^Label: (value)``-shaped field
    regex, or None when the regex is not of that shape.

    Used by the parser's label-keyed dispatch (operators/parse.py
    ``_first_match``): a line needs ONE substring split + ONE field
    regex instead of trying all ~50 patterns. Labels must be unique
    across the shipped fields (pinned by tests/test_parse_golden.py).
    The None return keeps the extension point honest — a field with a
    non-label-shaped regex goes to the try-every-pattern residual path,
    never silently changing semantics.
    """
    import re as _re

    pre, sep, _ = field.regex.partition(":")
    if not sep or not pre.startswith("^"):
        return None
    label = _re.sub(r"\\(.)", r"\1", pre[1:])
    try:
        # the unescaped label must round-trip: the prefix pattern
        # matches it exactly (catches \s, alternation, classes, ...)
        if _re.fullmatch(pre[1:], label) is None:
            return None
    except _re.error:
        return None
    return label
