"""Registry-text ingest: the reference's parser (scan.py) rebuilt as a
declarative Spark pipeline.

The reference streams the ~2 GB dump line by line through a hand-rolled
state machine: record boundaries at ``EudraCT Number:`` lines
(scan.py:341-351), IMP sub-blocks at ``D.IMP: n`` (353-359), sponsor
blocks at ``B.1.1`` (360-370), location captures in two forms (371-397),
then first-non-empty merge into per-trial dicts (294-307) flushed to
SQLite (263-278). Here the same computation is expressed as
(SURVEY §3.1 "Spark rebuild"):

    text scan (S4) -> line_no = monotonically_increasing_id
    -> whitespace-normalize (P3) -> cheap screening rlike (P1)
    -> marker columns
    -> per-split carry-forward of the trial id (A1, operators/filldown.py)
    -> per-trial segment counters for IMP/sponsor blocks (windows)
    -> ONE coalesce-of-regexp_extract dispatch chain (P2, first match
       wins — generated from fieldspec.py, the single extension point)
    -> groupBy merges: first-non-empty by line order (A2, min_by)
    -> imputations (A4/A5), yes/no encoding (A6)
    -> child tables: IMP fuzzy dedup (A7, imp_dedup.py), sponsor
       set-dedup (A8), location collect (A9)

Everything below is built-in DataFrame expressions — no Python UDFs.

Documented deviations from the reference (all pinned by the golden
fixture in tests/test_parse_golden.py):
- member-state copies of a trial merge globally, not only when
  consecutive; the "database wraps" duplicate-PK swallow
  (scan.py:129-132) becomes a plain group merge (FIXTURES.md §3).
- A3 "yes trumps no" is dead code in the reference (scan.py:296-301);
  default is actual first-non-empty semantics, ``yes_trumps_no=True``
  enables the intended semantics per bool field.
- IMP merge is the order-insensitive connected-components closure
  (SURVEY §7 hard item 4).
- sponsor title-casing uses ``initcap`` (Python ``str.title()`` differs
  only around intra-word punctuation).
- location-block marker lines match on the normalized line (the
  reference matches the raw line, scan.py:378-381).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from eurovision_spark import fieldspec
from eurovision_spark.functions import norm_ws, yes_no_to_int
from eurovision_spark.operators.filldown import fill_down
from eurovision_spark.operators.imp_dedup import dedup_imps


def number_lines(
    text_df: DataFrame, value_col: str = "value", caches: list | None = None
) -> DataFrame:
    """Attach a stable global line number to a text DataFrame — JVM-only,
    no Spark action, no join.

    ``line_no`` is ``monotonically_increasing_id`` (partition id << 33 |
    row): file splits are scanned in file order, so it increases in file
    order, with gaps between splits — fill_down's segments. The lazy
    persist (MEMORY_AND_DISK: spills, never OOMs) is filled by the first
    job over the lines (in parse_registry the fill-down's carry-in
    summary); later consumers read it, not the file.
    """
    raw = text_df.select(
        F.monotonically_increasing_id().alias("line_no"), F.col(value_col).alias("raw")
    ).persist()
    if caches is not None:
        caches.append(raw)
    return raw


def _extract(field: fieldspec.Field, norm_col: Column) -> Column:
    """regexp_extract for one field; '' capture = no match (scan.py:302-305
    treats falsy captures as absent); casefold per spec (322-325)."""
    v = F.nullif(F.regexp_extract(norm_col, field.regex, 1), F.lit(""))
    return F.lower(v) if field.casefold else v


def _try_all(fields: list[fieldspec.Field], norm_col: Column) -> Column:
    """Try every field's regex in order, first match wins — formulated
    as array-of-structs + filter + element_at(1) so each
    ``regexp_extract`` is evaluated exactly ONCE per line (the
    coalesce-of-whens equivalent names every extract twice and codegen
    does not eliminate the duplicate regex; measured ~2x)."""
    arr = F.array(
        *[
            F.struct(F.lit(f.name).alias("field"), _extract(f, norm_col).alias("value"))
            for f in fields
        ]
    )
    return F.try_element_at(F.filter(arr, lambda s: s["value"].isNotNull()), F.lit(1))


def _first_match(fields: list[fieldspec.Field], norm_col: Column) -> Column:
    """The reference's dispatch chain (scan.py:398-403): try each field in
    order, first match wins.

    Fast path: every field regex is ``^Label: (value)``-shaped with a
    unique literal label (fieldspec.label_literal), so the line's label
    (text before the first ':') picks the ONE candidate field via a
    when-chain of string equalities, and only that field's byte-identical
    regex runs — one split + one regex per line instead of ~50 regex
    attempts (measured ~3x off the whole melt stage; at 100 TB the melt
    is the parse's dominant per-row cost). Fields whose regex is not
    label-shaped (e.g. placebo's '?'-separated label) fall back to the
    try-every-pattern path; a line can satisfy at most one side (labels
    are unique literals — pinned by tests/test_parse_golden.py — and
    residual patterns carry non-label shapes), so coalesce is
    order-safe."""
    labeled = [(f, fieldspec.label_literal(f)) for f in fields]
    residual = [f for f, lab in labeled if lab is None]
    dispatch = [(f, lab) for f, lab in labeled if lab is not None]

    label = F.substring_index(norm_col, ":", 1)
    chain: Column | None = None
    for f, lab in dispatch:
        branch = F.struct(
            F.lit(f.name).alias("field"), _extract(f, norm_col).alias("value")
        )
        chain = (
            F.when(label == lab, branch)
            if chain is None
            else chain.when(label == lab, branch)
        )
    m = chain
    if residual:
        m = F.coalesce(m, _try_all(residual, norm_col))
    # a label hit whose value pattern failed yields struct(field, null);
    # normalize to "no match" so callers see identical semantics
    return F.when(m["value"].isNotNull(), m)


def parse_registry(
    spark: SparkSession,
    path: str,
    yes_trumps_no: bool = False,
    caches: list | None = None,
) -> dict[str, DataFrame]:
    """Parse a registry dump into the 4-table model.

    Returns {"trial", "imp", "sponsor", "location"} DataFrames matching
    FIXTURES.md §2 ('' = missing, bool01 as int 0/1).

    ``caches``: pass a list to receive the pipeline's persisted
    intermediates (raw lines, segment annotations, melted fields) for
    explicit ``unpersist()`` once the tables are materialized — a
    repeat caller (streaming micro-batches, bench loops) that never
    releases them accumulates pinned storage for the session lifetime.
    """
    lines = number_lines(spark.read.text(path), caches=caches)
    return parse_registry_lines(lines, yes_trumps_no, caches=caches)


def parse_registry_lines(
    lines: DataFrame, yes_trumps_no: bool = False, caches: list | None = None
) -> dict[str, DataFrame]:
    """Parse pre-numbered registry lines (line_no bigint, raw string).

    Split out from :func:`parse_registry` so the streaming ingest
    (streaming/ingest.py) can feed micro-batch line sets through the
    identical pipeline.
    """
    norm = norm_ws(F.col("raw"))
    eud_field = next(f for f in fieldspec.TRIAL_FIELDS if f.name == "eudract_id")
    annotated = (
        lines
        # P1 screening: one anchored alternation instead of 60 substring
        # probes (scan.py:336, 490-495); marker/block lines are kept
        # unconditionally because location blocks consume arbitrary lines
        .withColumn("norm", norm)
        # Every marker regex keeps its byte-identical pattern but runs
        # behind a literal-prefix startswith guard: codegen short-
        # circuits `&&` and CaseWhen, so the regex executes only on the
        # tiny fraction of lines carrying that prefix — the reference's
        # substring screen (scan.py:336) applied per-marker. Measured
        # ~2x off the annotation stage (8 regexes/line -> ~1).
        .withColumn(
            "eudract",
            F.when(
                F.col("norm").startswith("EudraCT Number:"),
                _extract(eud_field, F.col("norm")),
            ),
        )
        .withColumn(
            "is_imp_marker",
            F.col("norm").startswith("D.IMP: ") & F.col("norm").rlike(r"^D\.IMP: \d+"),
        )
        .withColumn(
            "sponsor_name",
            F.when(
                F.col("norm").startswith("B.1.1 Name of Sponsor:"),
                # the spec's own extractor (casefold=True on this field),
                # looked up by name — never a positional index
                _extract(
                    next(f for f in fieldspec.SPONSOR_FIELDS if f.name == "name"),
                    F.col("norm"),
                ),
            ),
        )
        .withColumn(
            "loc_header",
            F.when(
                F.col("norm").startswith("National Competent Authority:"),
                F.nullif(F.regexp_extract("norm", fieldspec.LOC_HEADER_RE, 1), F.lit("")),
            ),
        )
        .withColumn(
            "is_loc_start",
            F.col("norm").startswith("E.8.6.3 ")
            & (
                F.col("norm").rlike(fieldspec.LOC_START_RE)
                | F.col("norm").rlike(fieldspec.LOC_ALT_START_RE)
            ),
        )
        .withColumn(
            "is_loc_end",
            F.col("norm").startswith("E.8.7 ") & F.col("norm").rlike(fieldspec.LOC_END_RE),
        )
    )

    # A1: fill down the trial id over the global line order — a window
    # per file split plus a broadcast carry-in across splits, never a
    # single-partition sort (see filldown.py)
    with_trial = fill_down(annotated, "line_no", "eudract", "trial_id").filter(
        F.col("trial_id").isNotNull()
    )

    # per-trial ordered windows (records are tiny: fine to partition by trial)
    wt = W.partitionBy("trial_id").orderBy("line_no").rowsBetween(W.unboundedPreceding, 0)
    # member-state record counter: the location-block state machine must
    # reset at every 'EudraCT Number:' boundary (reference scan.py:341-351)
    # so one record's unbalanced markers can't corrupt its siblings
    wrec = (
        W.partitionBy("trial_id", "record_seg")
        .orderBy("line_no")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    seg = (
        with_trial.withColumn(
            "record_seg", F.sum(F.col("eudract").isNotNull().cast("int")).over(wt)
        )
        .withColumn("imp_seg", F.sum(F.col("is_imp_marker").cast("int")).over(wt))
        .withColumn(
            "sponsor_seg", F.sum(F.col("sponsor_name").isNotNull().cast("int")).over(wt)
        )
        # boolean last-marker-wins state (the reference's in_block flag,
        # scan.py:378-397), per record: a stray end before a genuine
        # start — or a start whose end is missing/case-varied — affects
        # at most the current record, and never drives a counter
        # negative the way a depth formulation does
        .withColumn(
            "_loc_marker",
            F.when(F.col("is_loc_start"), F.lit(1)).when(F.col("is_loc_end"), F.lit(0)),
        )
        .withColumn(
            "in_loc_block",
            # coalesce: before any marker the state is NULL, and a null
            # would poison every ~in_loc_block filter downstream
            F.coalesce(
                F.last(F.col("_loc_marker"), ignorenulls=True).over(wrec) == 1,
                F.lit(False),
            )
            & ~F.col("is_loc_start"),
        )
        # whole-partition flag reuses the trial_id exchange the running
        # windows already created — no extra shuffle (vs the previous
        # distinct + join formulation in _build_sponsor)
        .withColumn(
            "has_sponsor_name",
            F.max(F.col("sponsor_name").isNotNull()).over(W.partitionBy("trial_id")),
        )
    )
    seg = seg.persist()
    if caches is not None:
        caches.append(seg)

    # ---- location table (A9): two capture forms, set-dedup ---------------
    loc_rows = seg.filter(
        (F.col("loc_header").isNotNull() & ~F.col("in_loc_block"))
        | (F.col("in_loc_block") & (F.col("norm") != "") & ~F.col("is_loc_end"))
    ).select(
        F.col("trial_id").alias("eudract_id"),
        # branch on WHICH capture form fired, never coalesce: an in-block
        # line that happens to look like a header must be captured as the
        # raw line (reference scan.py:378-397), not its extracted country
        F.when(~F.col("in_loc_block"), F.col("loc_header"))
        .otherwise(F.col("norm"))
        .alias("location"),
    )
    location = loc_rows.distinct()

    # ---- field melt (P2): one dispatch chain over non-marker lines -------
    generic_fields = (
        [f for f in fieldspec.TRIAL_FIELDS if f.name != "eudract_id"]
        + list(fieldspec.IMP_FIELDS)
        + [f for f in fieldspec.SPONSOR_FIELDS if f.name != "name"]
    )
    dispatch_src = seg.filter(
        F.col("eudract").isNull()
        & ~F.col("is_imp_marker")
        & F.col("sponsor_name").isNull()
        & F.col("loc_header").isNull()
        & ~F.col("in_loc_block")
        & ~F.col("is_loc_start")
        & ~F.col("is_loc_end")
        # P1 screening pre-filter: cheap anchored alternation before the
        # 50-regex dispatch chain
        & F.col("norm").rlike(fieldspec.screening_regex())
    )
    melted = (
        dispatch_src.withColumn("m", _first_match(generic_fields, F.col("norm")))
        .filter(F.col("m").isNotNull())
        .select(
            "line_no",
            "trial_id",
            "imp_seg",
            "sponsor_seg",
            "has_sponsor_name",
            F.col("m.field").alias("field"),
            F.col("m.value").alias("value"),
        )
    ).persist()
    if caches is not None:
        caches.append(melted)

    trial = _build_trial(melted, seg, yes_trumps_no)
    imp = _build_imp(melted)
    sponsor = _build_sponsor(melted, seg)
    return {"trial": trial, "imp": imp, "sponsor": sponsor, "location": location}


def _first_of_field(name: str) -> Column:
    """A2 fused with the pivot: first (by line order) value of one field,
    as a conditional aggregate — min over (line_no, value) structs of the
    field's rows (min skips nulls, struct order = line order)."""
    return F.min(
        F.when(
            F.col("field") == name,
            F.struct(F.col("line_no").alias("o"), F.col("value").alias("v")),
        )
    )["v"]


def _merge_pivot(melted: DataFrame, keys: list[str], names: list[str]) -> DataFrame:
    """groupBy(keys) with one first-non-empty conditional aggregate per
    field — the A2 merge and the wide pivot in ONE hash aggregate (one
    shuffle). The groupBy(keys+[field]) -> pivot formulation shuffles
    twice and was measured ~2x slower on the ingest path."""
    return melted.groupBy(*keys).agg(*[_first_of_field(n).alias(n) for n in names])


def _build_trial(melted: DataFrame, seg: DataFrame, yes_trumps_no: bool) -> DataFrame:
    tf = {f.name: f for f in fieldspec.TRIAL_FIELDS}
    names = sorted(n for n in tf if n != "eudract_id")
    rows = melted.filter(F.col("field").isin(*[n for n in names]))
    if yes_trumps_no:
        # A3 intended semantics: for bool fields a 'yes' anywhere wins
        bool_names = {n for n in names if tf[n].dtype == "bool01"}
        aggs = [
            (
                F.when(
                    F.max(
                        F.when((F.col("field") == n) & (F.col("value") == "yes"), F.lit(1))
                    )
                    == 1,
                    F.lit("yes"),
                ).otherwise(_first_of_field(n))
                if n in bool_names
                else _first_of_field(n)
            ).alias(n)
            for n in names
        ]
        wide = rows.groupBy("trial_id").agg(*aggs)
    else:
        wide = _merge_pivot(rows, ["trial_id"], names)
    # trials with zero captured fields still get a row (scan.py always
    # inserts the record): right-join the distinct trial ids
    all_trials = seg.select(F.col("trial_id")).distinct()
    wide = all_trials.join(wide, "trial_id", "left")

    # A4 status imputation (scan.py:97-104)
    wide = wide.withColumn(
        "overall_status",
        F.when(
            F.col("completion_date").isNotNull() & (F.col("overall_status") == "ongoing"),
            F.lit("not ongoing"),
        ).otherwise(F.col("overall_status")),
    )
    # A5 meddra_soc fallback (scan.py:106-111)
    wide = wide.withColumn(
        "meddra_soc",
        F.when(
            F.col("meddra_soc").isNull() & (F.col("meddra_level") == "soc"),
            F.col("meddra_classification"),
        ).otherwise(F.col("meddra_soc")),
    )
    # A6 bool encoding + '' convention for text (sorted column order, O2)
    cols: list[Column] = [F.col("trial_id").alias("eudract_id")]
    for n in names:
        if tf[n].dtype == "bool01":
            cols.append(yes_no_to_int(F.col(n)).alias(n))
        else:
            cols.append(F.coalesce(F.col(n), F.lit("")).alias(n))
    return wide.select(*cols)


def _build_imp(melted: DataFrame) -> DataFrame:
    imp_names = [f.name for f in fieldspec.IMP_FIELDS]
    entries = _merge_pivot(
        melted.filter(F.col("field").isin(*imp_names)),
        ["trial_id", "imp_seg"],
        imp_names,
    )
    # empty_dict guard (scan.py:251-260): segments with no captured field
    # never appear; all-null pivots cannot occur. A7 fuzzy merge:
    return dedup_imps(
        entries.select(
            F.col("trial_id").alias("eudract_id"),
            F.col("imp_seg").cast("bigint").alias("entry_id"),
            "trade",
            "product",
            "code",
        )
    )


def _build_sponsor(melted: DataFrame, seg: DataFrame) -> DataFrame:
    sp_detail_names = [f.name for f in fieldspec.SPONSOR_FIELDS if f.name != "name"]

    # fields captured before the first B.1.1 merge into block 1
    # (scan.py:360-365: no flush while name is still empty); the
    # has_sponsor_name flag was computed in seg's existing trial window
    details = (
        melted.filter(F.col("field").isin(*sp_detail_names))
        .withColumn(
            "blk",
            F.when(F.col("has_sponsor_name"), F.greatest(F.col("sponsor_seg"), F.lit(1)))
            .otherwise(F.col("sponsor_seg")),
        )
        .groupBy("trial_id", "blk")
        .agg(*[_first_of_field(n).alias(n) for n in sp_detail_names])
    )
    names = seg.filter(F.col("sponsor_name").isNotNull()).select(
        "trial_id", F.col("sponsor_seg").alias("blk"), F.col("sponsor_name").alias("name")
    )
    blocks = names.join(details, ["trial_id", "blk"], "full").select(
        F.col("trial_id").alias("eudract_id"),
        # A8: title-case everything but email (scan.py:248), '' convention
        F.initcap(F.coalesce("name", F.lit(""))).alias("name"),
        F.initcap(F.coalesce("org", F.lit(""))).alias("org"),
        F.initcap(F.coalesce("contact", F.lit(""))).alias("contact"),
        F.coalesce("email", F.lit("")).alias("email"),
    )
    deduped = blocks.distinct()
    # trials with no sponsor data at all still emit one all-empty row
    # (unconditional add_sponsor_to_set at flush, scan.py:272)
    all_trials = seg.select(F.col("trial_id").alias("eudract_id")).distinct()
    empties = all_trials.join(deduped.select("eudract_id").distinct(), "eudract_id", "left_anti").select(
        "eudract_id",
        F.lit("").alias("name"),
        F.lit("").alias("org"),
        F.lit("").alias("contact"),
        F.lit("").alias("email"),
    )
    return deduped.unionByName(empties)


# fields the reference stores as TEXT that carry typed values
# (SURVEY §1.3: dates scan.py:413-415/462, numbers scan.py:460, 425)
DATE_FIELDS = ("study_first_submitted_date", "completion_date")
INT_FIELDS = ("enrollment",)


def promote_types(trial: DataFrame) -> DataFrame:
    """Typed view of the trial table: TEXT dates -> DateType, numeric
    text -> IntegerType (null on unparseable, '' included), bool01 ints
    -> BooleanType. The parquet store keeps the reference's
    all-text-plus-0/1 convention for parity; this is the analysis-side
    promotion SURVEY §1.3 prescribes — date columns become range-filter
    and partition-pruning keys instead of opaque strings.
    """
    out = trial
    for c in DATE_FIELDS:
        out = out.withColumn(c, F.to_date(F.nullif(F.col(c), F.lit(""))))
    for c in INT_FIELDS:
        out = out.withColumn(c, F.nullif(F.col(c), F.lit("")).try_cast("int"))
    bool01 = [f.name for f in fieldspec.TRIAL_FIELDS if f.dtype == "bool01"]
    for c in bool01:
        out = out.withColumn(c, F.when(F.col(c).isNotNull(), F.col(c) == 1))
    return out
