"""Physical-plan audit utilities.

The reference's only "optimizer observability" is its stage list
(SURVEY.md §4.1). On Spark the physical plan is the contract that
decides whether an operator survives 100 TB: filters must reach the
scan (PushedFilters), projections must prune the read schema, small
joins must broadcast, aggregates must partially aggregate map-side.
These helpers parse `.explain("formatted")` output so tests and CI can
assert those properties instead of eyeballing plans.
"""

from __future__ import annotations

import contextlib
import io
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@dataclass
class ScanInfo:
    table_hint: str
    pushed_filters: list[str] = field(default_factory=list)
    read_columns: list[str] = field(default_factory=list)


def scans(df: DataFrame) -> list[ScanInfo]:
    """Parquet scans with their pushed filters and pruned read schema."""
    text = plan_string(df)
    out: list[ScanInfo] = []
    current: ScanInfo | None = None
    for line in text.splitlines():
        stripped = line.strip()
        if re.match(r"\(\d+\) Scan parquet", stripped):
            current = ScanInfo(table_hint="")
            out.append(current)
        elif current is not None and stripped.startswith("Location:"):
            current.table_hint = stripped.split("/")[-1].rstrip("]")
        elif current is not None and stripped.startswith("PushedFilters:"):
            inner = stripped.split("[", 1)[-1].rstrip("]")
            current.pushed_filters = [f.strip() for f in inner.split(",") if f.strip()]
        elif current is not None and stripped.startswith("ReadSchema:"):
            inner = stripped.split("struct<", 1)[-1].rstrip(">")
            current.read_columns = [
                c.split(":")[0].strip() for c in inner.split(",") if c.strip()
            ]
    return out


def join_strategies(df: DataFrame) -> list[str]:
    """Physical join operators in the plan, one entry per join node
    (parsed from the formatted explain's numbered detail section so the
    tree rendering doesn't double-count)."""
    text = plan_string(df)
    return re.findall(
        r"^\(\d+\) (BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)",
        text,
        re.MULTILINE,
    )


def has_pushed_filter(df: DataFrame, column: str) -> bool:
    return any(
        column in f for scan in scans(df) for f in scan.pushed_filters
    )


def codegen_stage_count(df: DataFrame) -> int:
    """Number of whole-stage-codegen spans — wider is better (more of
    the plan fused into generated code). Uses codegen-mode explain
    (generates the code without executing): AQE plans hide codegen
    markers from the other modes until the final plan exists."""
    spark = df.sparkSession
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        # AQE defers physical planning, reporting 0 codegen subtrees
        # pre-execution; plan without it for the audit.
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        # select("*") forces a fresh QueryExecution — the original df may
        # have already cached an AQE-wrapped physical plan.
        text = plan_string(df.select("*"), "codegen")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees", text)
    return int(m.group(1)) if m else 0


def _bracket_groups(s: str) -> list[str]:
    """Top-level ``[...]`` group contents of a plan line."""
    groups, depth, buf = [], 0, []
    for ch in s:
        if ch == "[":
            if depth == 0:
                buf = []
            else:
                buf.append(ch)
            depth += 1
        elif ch == "]":
            depth = max(0, depth - 1)
            if depth == 0:
                groups.append("".join(buf))
            else:
                buf.append(ch)
        elif depth > 0:
            buf.append(ch)
    return groups


def global_windows(df: DataFrame) -> list[str]:
    """Window nodes with an ORDER spec but NO partition spec — each one
    is a single-task global sort at execution time ("WindowExec: No
    Partition Defined" warning), the plan shape that cannot scale.

    A fully-specified Window renders as ``Window [exprs],
    [partitionSpec], [orderSpec]`` (3 top-level bracket groups). Two
    groups is ambiguous: either partition-only (fine — whole-partition
    frames like count-over-partition) or order-only (the global sort).
    Order specs always carry ASC/DESC markers; partition specs are
    bare column lists — classify by that. Returns the offending plan
    lines."""
    text = plan_string(df, "simple")
    out = []
    for line in text.splitlines():
        stripped = line.strip().lstrip("+-*: ")
        if not stripped.startswith("Window "):
            continue
        groups = _bracket_groups(stripped)
        if len(groups) == 2 and (" ASC" in groups[1] or " DESC" in groups[1]):
            out.append(stripped[:160])
    return out


#: Volatile tokens stripped before hashing a plan. Everything else in
#: a formatted explain is a function of the plan shape itself:
#: - expression IDs (#123) come from a session-global monotonic
#:   counter — differ between builds of the SAME query
#: - plan_id / ReusedExchange ids — same counter family
#: - RDD numbers (ExistingRDD/MapPartitionsRDD[123]) — run-scoped,
#:   shown when a query materializes via localCheckpoint / memory sink
#: - absolute temp/checkpoint paths (file:/tmp/...) — random per run
#: - cached-plan storage levels / InMemoryRelation serialized stats
_VOLATILE = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"file:/tmp/\S+"), "file:/tmp/..."),
    (re.compile(r"\[file:[^\]]*/(\w+\.parquet)[^\]]*\]"), r"[\1]"),
    (re.compile(r"Statistics\([^)]*\)"), "Statistics()"),
    # nondeterministic-expression seeds are drawn fresh per build
    # (salted operators use rand() for bucket assignment)
    (re.compile(r"\b(rand|randn|uuid|shuffle)\(-?\d+"), r"\1("),
    # higher-order-function lambda variables are numbered by a
    # SESSION-CUMULATIVE counter (x_1 in a fresh session, x_5 after
    # other lambdas ran) — round 13 found 34 phantom "plan changed"
    # flags when the bench control basket shifted the counter for
    # every later lambda-bearing entry. Runs after the #\d+ rule, so
    # the variable always reads like `lambda x_1#`.
    (re.compile(r"\blambda (\w+?)_\d+#"), r"lambda \1_#"),
]


# --- distinct-rewrite canonicalization (round 15, VERDICT r14 #8) ---
# RewriteDistinctAggregates orders its Expand projection branches (and
# the qualified `relation.column#` attributes they mint) by iterating a
# map keyed on expressions whose exprIds come from the SESSION-
# cumulative counter: two builds of the SAME multi-distinct query in
# sessions with different histories emit the branches (and every
# downstream Input/Keys/Results/hashpartitioning list) in a different
# — semantically identical — order. Reproduced on q174 (the one
# same-code fingerprint flip between the r14 and r15 baseline
# captures). The fix canonicalizes LIST ORDER, but only for plans
# carrying the rewrite's signature (an Expand node + dot-qualified
# attributes), so every other entry's fingerprint is byte-stable
# across this change.

_DISTINCT_REWRITE_EXPAND = re.compile(r"\(\d+\) Expand")
_QUALIFIED_ATTR = re.compile(r"\w+\.\w+#")
_SORTABLE_LINE = re.compile(
    r"^(Input|Keys|Results|Functions|Aggregate Attributes)\s*(\[\d+\])?:"
)
_BARE_INT = re.compile(r"^\d+$")


def _split_top(s: str) -> list[str]:
    """Split on top-level commas (never inside (), [] nesting)."""
    items, depth, buf = [], 0, []
    for ch in s:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if ch == "," and depth == 0:
            items.append("".join(buf).strip())
            buf = []
        else:
            buf.append(ch)
    if buf:
        items.append("".join(buf).strip())
    return items


def _gid_index(branches: list[list[str]]) -> int | None:
    """The gid literal's position in Expand branch tuples: the first
    position holding a bare integer in EVERY branch, all distinct (the
    gid numbers the branches). A constant projected in only some
    branches never qualifies, so it stays part of the fingerprint."""
    for i in range(min(len(b) for b in branches)):
        vals = [b[i] for b in branches]
        if all(_BARE_INT.match(x) for x in vals) and len(set(vals)) == len(
            vals
        ):
            return i
    return None


def _canon_items(s: str) -> str:
    """Sort top-level comma items; nested [..] items (Expand branch
    tuples) first canonicalize recursively with their gid literal
    masked (the gid is the branch's position, which is exactly the
    unstable part)."""
    items = _split_top(s)
    nested = [
        _split_top(it[1:-1])
        for it in items
        if it.startswith("[") and it.endswith("]")
    ]
    gid = _gid_index(nested) if nested else None
    out = [it for it in items if not (it.startswith("[") and it.endswith("]"))]
    for inner in nested:
        if gid is not None:
            inner = inner[:gid] + ["N"] + inner[gid + 1:]
        out.append("[" + ", ".join(sorted(inner)) + "]")
    return ", ".join(sorted(out))


def _mask_filter_gids(text: str) -> str:
    """``gid# = N`` inside every ``FILTER (WHERE …)`` clause: there the
    literal is the branch's position — the same unstable ordering in
    another costume — and the function name (count(col)) already
    identifies the branch. A gid comparison anywhere else is kept."""
    out, i = [], 0
    while (j := text.find("FILTER (WHERE ", i)) >= 0:
        k, depth = j + len("FILTER ("), 1
        while k < len(text) and depth:
            depth += {"(": 1, ")": -1}.get(text[k], 0)
            k += 1
        out += [text[i:j], re.sub(r"gid# = \d+", "gid# = N", text[j:k])]
        i = k
    return "".join(out) + text[i:]


def _canon_group(s: str) -> str:
    """Canonicalize one bracket/paren group's content unless it is a
    sort spec (ASC/DESC order is semantics, never touched)."""
    if " ASC" in s or " DESC" in s:
        return s
    return _canon_items(s)


def _canon_line_lists(line: str) -> str:
    """Rewrite every top-level [..] group and hashpartitioning(..)
    argument list on a detail line into canonical (sorted) order."""
    out, i, depth = [], 0, 0
    n = len(line)
    while i < n:
        ch = line[i]
        if ch == "[":
            # find the matching close at this level
            j, d = i + 1, 1
            while j < n and d:
                if line[j] == "[":
                    d += 1
                elif line[j] == "]":
                    d -= 1
                j += 1
            out.append("[" + _canon_group(line[i + 1 : j - 1]) + "]")
            i = j
            continue
        if line.startswith("hashpartitioning(", i):
            j, d = i + len("hashpartitioning("), 1
            while j < n and d:
                if line[j] == "(":
                    d += 1
                elif line[j] == ")":
                    d -= 1
                j += 1
            out.append(
                "hashpartitioning("
                + _canon_group(line[i + len("hashpartitioning(") : j - 1])
                + ")"
            )
            i = j
            continue
        out.append(ch)
        i += 1
    return "".join(out)


def _canon_distinct_rewrite(text: str) -> str:
    """Apply the list-order canonicalization iff the plan carries the
    distinct-rewrite signature; all other plans pass through
    byte-identical."""
    if not (
        _DISTINCT_REWRITE_EXPAND.search(text)
        and _QUALIFIED_ATTR.search(text)
    ):
        return text
    text = _mask_filter_gids(text)
    out = []
    for line in text.splitlines():
        stripped = line.strip()
        if _SORTABLE_LINE.match(stripped) or stripped.startswith(
            "Arguments:"
        ):
            line = _canon_line_lists(line)
        out.append(line)
    return "\n".join(out)


def normalized_plan(df: DataFrame) -> str:
    """Formatted physical plan with run-volatile tokens stripped —
    two builds of the same logical query (same session or not)
    normalize to the same string; any real plan change (different
    join strategy, lost pushdown, extra exchange) does not."""
    text = plan_string(df)
    for pat, repl in _VOLATILE:
        text = pat.sub(repl, text)
    text = _canon_distinct_rewrite(text)
    # drop blank lines + trailing whitespace so formatting-only
    # differences between Spark patch versions don't churn the hash
    return "\n".join(
        line.rstrip() for line in text.splitlines() if line.strip()
    )


def plan_fingerprint(df: DataFrame) -> str:
    """16-hex-char hash of the normalized physical plan. Recorded per
    entry in the bench artifact (bench.py) so tools/bench_compare.py
    can split a timing flag into 'plan changed' (real regression
    suspect) vs 'plan identical' (host weather — auto re-measure)
    without a human diffing plans by eye (VERDICT r7 ask #1)."""
    import hashlib

    return hashlib.sha256(normalized_plan(df).encode()).hexdigest()[:16]


def audit(df: DataFrame) -> dict:
    """One-call plan summary for logging/regression tests."""
    return {
        "scans": [
            {
                "table": s.table_hint,
                "pushed": s.pushed_filters,
                "columns": s.read_columns,
            }
            for s in scans(df)
        ],
        "joins": join_strategies(df),
        "codegen_stages": codegen_stage_count(df),
    }
