"""Seeded inputs for the benchmark: registry dumps, a search store and
the search predicate mix.

Everything derives from the seed: trial ids, the number of member-state
copies of each trial, IMP/sponsor/location fan-out and every field value.
The generator also returns the ground truth the output checks compare
against, computed from the records it wrote rather than from the parser.

Ground-truth rules (the parser's documented semantics):
- one trial row per distinct ``EudraCT Number`` id;
- a trial field takes the first non-empty value in line order across the
  trial's member-state records; text is lower-cased except the title;
  yes/no flags become 1/0 and any other flag text becomes NULL; a field
  never captured is '' (text) or NULL (flag);
- an ``ongoing`` status with a completion date becomes ``not ongoing``;
- locations are the first word of each ``National Competent Authority``
  header plus every line of an ``E.8.6.3`` ... ``E.8.7`` block.
"""

from __future__ import annotations

import os
import random

# Bump when the generated text or the ground-truth rules change, so a
# cached fixture from an older generator is never reused.
GEN_VERSION = 1

COUNTRIES = ["Austria", "Belgium", "Denmark", "France", "Germany", "Italy", "Netherlands",
             "Poland", "Spain", "Sweden"]
OUTSIDE = ["United States", "Japan", "Brazil", "Canada", "Australia", "India"]
STATUSES = ["Ongoing", "Completed", "Prematurely Ended", "Restarted"]
# a flag answer the parser keeps as first-non-empty text, then maps to NULL
NOT_PRESENT = "Information not present in EudraCT"

TEXT_LABELS = {
    "overall_status": "Trial Status:",
    "official_title": "A.3 Full title of the trial:",
    "sponsor_id": "A.4.1 Sponsor's protocol code number:",
    "nct_id": "A.5.2 US NCT (ClinicalTrials.gov registry) number:",
    "condition": "E.1.1 Medical condition(s) being investigated:",
    "enrollment": "F.4.2.2 In the whole clinical trial:",
    "completion_date": "P. Date of the global end of the trial:",
}
FLAG_LABELS = {
    "placebo": "D.8.1 Is a Placebo used in this Trial?",
    "rare": "E.1.3 Condition being studied is a rare disease:",
    "phase1": "E.7.1 Human pharmacology (Phase I):",
    "phase2": "E.7.2 Therapeutic exploratory (Phase II):",
    "phase3": "E.7.3 Therapeutic confirmatory (Phase III):",
    "randomised": "E.8.1.1 Randomised:",
    "double_blind": "E.8.1.4 Double blind:",
    "female": "F.2.1 Female:",
    "male": "F.2.2 Male:",
}
LOC_START = "E.8.6.3 If E.8.6.1 or E.8.6.2 are Yes, specify the regions in which trial sites are planned"
LOC_END = "E.8.7 Trial has a data monitoring committee"


def trial_columns() -> tuple[list[str], list[str]]:
    """(text columns, flag columns) of the trial table besides its
    ``eudract_id`` key, from the engine's field spec — the schema the
    parser writes."""
    from eurovision_spark import fieldspec

    text = [f.name for f in fieldspec.TRIAL_FIELDS if f.dtype == "text" and f.name != "eudract_id"]
    flags = [f.name for f in fieldspec.TRIAL_FIELDS if f.dtype == "bool01"]
    return text, flags


def _unique_ids(rng: random.Random, n: int) -> list[str]:
    ids: set[str] = set()
    out = []
    while len(out) < n:
        eid = f"{rng.randint(2004, 2023)}-{rng.randint(0, 999999):06d}-{rng.randint(10, 99)}"
        if eid not in ids:
            ids.add(eid)
            out.append(eid)
    return out


def _text_value(rng: random.Random, name: str) -> str:
    if name == "overall_status":
        return rng.choice(STATUSES)
    if name == "official_title":
        return f"Study {rng.randint(1, 9999)} of Compound-{rng.randint(1, 500)} in Adults"
    if name == "sponsor_id":
        return f"PROT-{rng.randint(0, 99999):05d}"
    if name == "nct_id":
        return f"NCT{rng.randint(10**7, 10**8 - 1)}"
    if name == "condition":
        return f"Condition {rng.randint(1, 300)} Type {rng.choice('ABC')}"
    if name == "enrollment":
        return str(rng.randint(10, 5000))
    if name == "completion_date":
        return f"{rng.randint(2005, 2024)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
    raise ValueError(name)


def _record(rng: random.Random, eid: str, t: int, state: int) -> tuple[list[str], dict]:
    """Lines of one member-state record plus the field values it carries
    (in line order) and its locations."""
    present = 0.9 if state == 0 else 0.5
    lines = [f"EudraCT Number: {eid}"]
    country = rng.choice(COUNTRIES)
    lines.append(f"National Competent Authority: {country} - Competent Authority")
    values: list[tuple[str, str]] = []
    locations = {country}

    def field(name: str, label: str, value: str) -> None:
        r = rng.random()
        if r < 0.05:
            lines.append(f"{label} ")  # blank answer: the parser treats it as absent
        elif r < present:
            lines.append(f"{label} {value}")
            values.append((name, value))

    for name in ("overall_status", "official_title", "sponsor_id", "nct_id"):
        field(name, TEXT_LABELS[name], _text_value(rng, name))
    lines.append(f"B.1.1 Name of Sponsor: sponsor {rng.choice(['alpha', 'beta', 'gamma'])} {t % 97}")
    lines.append(f"B.5.1 Name of organisation: org {rng.randint(1, 60)}")
    lines.append(f"B.5.6 E-mail: contact{rng.randint(1, 60)}@example.org")
    field("placebo", FLAG_LABELS["placebo"], rng.choice(["Yes", "No"]))
    for imp in range(1 + rng.randint(0, 2)):
        k = rng.randint(1, 400)
        lines.append(f"D.IMP: {imp + 1}")
        lines.append(f"D.2.1.1.1 Trade name: Trade-{k}")
        if rng.random() < 0.5:
            lines.append(f"D.3.1 Product name: Product-{k}")
        else:
            lines.append(f"D.3.2 Product code: C-{k}")
    field("condition", TEXT_LABELS["condition"], _text_value(rng, "condition"))
    for name in ("rare", "phase1", "phase2", "phase3", "randomised", "double_blind"):
        flag = NOT_PRESENT if rng.random() < 0.05 else rng.choice(["Yes", "No"])
        field(name, FLAG_LABELS[name], flag)
    if rng.random() < 0.3:
        lines.append(LOC_START)
        for place in rng.sample(OUTSIDE, rng.randint(1, 3)):
            lines.append(place)
            locations.add(place)
        lines.append(LOC_END)
    for name in ("female", "male"):
        field(name, FLAG_LABELS[name], rng.choice(["Yes", "No"]))
    field("enrollment", TEXT_LABELS["enrollment"], _text_value(rng, "enrollment"))
    if rng.random() < 0.5:
        field("completion_date", TEXT_LABELS["completion_date"], _text_value(rng, "completion_date"))
    return lines, {"values": values, "locations": locations}


def _merge(records: list[dict], text_cols: list[str], flag_cols: list[str]) -> dict:
    """Expected trial row: first non-empty value per field in line order."""
    first: dict[str, str] = {}
    for rec in records:
        for name, value in rec["values"]:
            first.setdefault(name, value)
    row: dict = {}
    for name in text_cols:
        v = first.get(name, "")
        row[name] = v if name == "official_title" else v.lower()
    for name in flag_cols:
        v = first.get(name, "").lower()
        row[name] = 1 if v == "yes" else 0 if v == "no" else None
    if row["completion_date"] and row["overall_status"] == "ongoing":
        row["overall_status"] = "not ongoing"
    return row


def write_dump(path: str, seed: int, n_trials: int) -> dict:
    """Write a registry dump of ``n_trials`` trials to ``path`` and return
    its truth: ``{"trials": {id: expected row}, "locations": {(id,
    location)}, "lines": n, "bytes": n}``. The text is always rebuilt in
    memory (the truth comes from it); the file is written only if absent,
    so a path from :func:`dump_path` acts as a cache."""
    rng = random.Random(f"dump-{seed}-{n_trials}")
    text_cols, flag_cols = trial_columns()
    ids = _unique_ids(rng, n_trials)
    out: list[str] = []
    trials: dict[str, dict] = {}
    locations: set[tuple[str, str]] = set()
    page = 1
    for t, eid in enumerate(ids):
        records = []
        for state in range(1 + rng.randint(0, 2)):
            if rng.random() < 0.2:
                out.append(f"### PAGE {page} ####")
                page += 1
            lines, rec = _record(rng, eid, t, state)
            out.extend(lines)
            records.append(rec)
            locations.update((eid, loc) for loc in rec["locations"])
        trials[eid] = _merge(records, text_cols, flag_cols)
    text = "\n".join(out) + "\n"
    if not os.path.exists(path):
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w", encoding="utf8") as fh:
            fh.write(text)
        os.replace(tmp, path)
    return {"trials": trials, "locations": locations, "lines": len(out),
            "bytes": len(text.encode("utf8"))}


def dump_path(fixture_dir: str, seed: int, n_trials: int) -> str:
    """Cache key of a dump: generator version, seed and size."""
    return os.path.join(fixture_dir, f"registry-v{GEN_VERSION}-seed{seed}-n{n_trials}.txt")


def store_rows(seed: int, n_trials: int) -> dict[str, list[tuple]]:
    """Rows of a search store in the four-table shape ``ingest`` writes
    ('' for missing text, NULL for never-captured flags, sponsor names
    title-cased, IMP names lower-cased)."""
    rng = random.Random(f"store-{seed}-{n_trials}")
    text_cols, flag_cols = trial_columns()
    cols = sorted(text_cols + flag_cols)
    trial, imp, sponsor, location = [], [], [], []
    for t, eid in enumerate(_unique_ids(rng, n_trials)):
        row = {c: ("" if c in text_cols else None) for c in cols}
        for name in TEXT_LABELS:
            if rng.random() < 0.9:
                v = _text_value(rng, name)
                row[name] = v if name == "official_title" else v.lower()
        for name in FLAG_LABELS:
            if rng.random() < 0.9:
                row[name] = rng.randint(0, 1)
        trial.append((eid, *[row[c] for c in cols]))
        for _ in range(1 + rng.randint(0, 2)):
            k = rng.randint(1, 400)
            imp.append((eid, f"trade-{k}", f"product-{k}" if rng.random() < 0.5 else "",
                        f"c-{k}" if rng.random() < 0.5 else ""))
        for _ in range(1 + rng.randint(0, 1)):
            sponsor.append((eid, f"Sponsor {rng.choice(['Alpha', 'Beta', 'Gamma'])} {t % 97}",
                            f"Org {rng.randint(1, 60)}", "", f"contact{rng.randint(1, 60)}@example.org"))
        places = set(rng.sample(COUNTRIES, rng.randint(1, 3)))
        if rng.random() < 0.3:
            places.update(rng.sample(OUTSIDE, rng.randint(1, 2)))
        location.extend((eid, p) for p in sorted(places))
    return {"trial": trial, "imp": imp, "sponsor": sponsor, "location": location,
            "trial_columns": ["eudract_id", *cols]}


# Search request templates: predicate per table (None = that table does
# not constrain the search), cycled in a seeded order so every run sees
# the same mix in a different sequence.
TEMPLATES = ("point", "flags", "imp", "sponsor", "location", "match_all")
FLAG_CHOICES = ("placebo", "phase1", "phase2", "phase3", "randomised", "double_blind",
                "female", "male", "rare")


def search_requests(seed: int, rows: dict[str, list[tuple]], n: int) -> list[dict]:
    """``n`` search requests: each a dict with ``template`` and the
    ``trial_where``/``imp_where``/``sponsor_where``/``location_where``
    predicates (valid Spark SQL and DuckDB SQL alike)."""
    rng = random.Random(f"search-{seed}")
    ids = [r[0] for r in rows["trial"]]
    trades = sorted({r[1] for r in rows["imp"]})
    orgs = sorted({r[2] for r in rows["sponsor"]})
    places = sorted({r[1] for r in rows["location"]})
    out: list[dict] = []
    while len(out) < n:
        for template in rng.sample(TEMPLATES, len(TEMPLATES)):
            req = {"template": template, "trial_where": None, "imp_where": None,
                   "sponsor_where": None, "location_where": None}
            if template == "point":
                req["trial_where"] = f"eudract_id = '{rng.choice(ids)}'"
            elif template == "flags":
                a, b = rng.sample(FLAG_CHOICES, 2)
                req["trial_where"] = f"{a} = 1 AND {b} = {rng.randint(0, 1)}"
            elif template == "imp":
                req["imp_where"] = f"trade = '{rng.choice(trades)}'"
            elif template == "sponsor":
                req["sponsor_where"] = f"org = '{rng.choice(orgs)}'"
            elif template == "location":
                req["location_where"] = f"location = '{rng.choice(places)}'"
                req["trial_where"] = f"{rng.choice(FLAG_CHOICES)} = 1"
            out.append(req)
    return out[:n]
