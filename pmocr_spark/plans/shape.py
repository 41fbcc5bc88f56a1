"""Assertions over physical plans — used in tests to pin the plan shapes
that matter at 100TB (SURVEY.md §4): pushed filters, pruned scans,
broadcast joins where intended, no accidental cartesian products, and
cheap filters upstream of Python UDF stages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def has_pushed_filters(df: DataFrame) -> bool:
    """True if any parquet scan carries PushedFilters (predicate pushdown)."""
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "PushedFilters:" in line and "PushedFilters: []" not in line:
            return True
    return False


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns actually read from the (first) parquet scan — column
    pruning check: a 2-column projection must not read 10 columns."""
    plan = formatted_plan(df)
    cols: list[str] = []
    for line in plan.splitlines():
        if "ReadSchema:" in line:
            schema = line.split("ReadSchema:", 1)[1].strip()
            inner = schema[schema.find("<") + 1 : schema.rfind(">")]
            depth = 0
            field = ""
            for ch in inner:
                if ch == "," and depth == 0:
                    cols.append(field.split(":", 1)[0])
                    field = ""
                    continue
                if ch in "<([":
                    depth += 1
                if ch in ">)]":
                    depth -= 1
                field += ch
            if field:
                cols.append(field.split(":", 1)[0])
            break
    return cols


def count_broadcast_joins(df: DataFrame) -> int:
    return formatted_plan(df).count("BroadcastHashJoin") + formatted_plan(df).count(
        "BroadcastNestedLoopJoin"
    )


def has_cartesian(df: DataFrame) -> bool:
    return "CartesianProduct" in formatted_plan(df)


def count_exchanges(df: DataFrame) -> int:
    """PHYSICAL shuffle count — the number to minimize. Counts the
    formatted plan's detail headers '(N) Exchange' so each operator
    counts once — EXCEPT operators inside an '== Initial Plan =='
    section: a materialized cached relation (InMemoryRelation holding an
    AdaptiveSparkPlan) is formatted as Final Plan + Initial Plan, and
    the initial section re-lists the same shuffle under a second id, so
    counting it would double-bill one physical Exchange."""
    import re

    plan = formatted_plan(df)
    lines = plan.splitlines()
    initial_ids: set[str] = set()
    regions: list[int] = []  # glyph-prefix lengths of open Initial sections

    def _prefix_len(line: str) -> int:
        return len(line) - len(line.lstrip(" :+|-"))

    for line in lines:
        if re.match(r"^\(\d+\) ", line):
            break  # tree section over, detail sections begin
        p = _prefix_len(line)
        # children of the marker render at the SAME stripped depth as
        # the marker text itself, so a region stays open until a
        # strictly shallower line (the cached subtree's sibling)
        while regions and p < regions[-1]:
            regions.pop()
        if regions:
            initial_ids.update(re.findall(r"\((\d+)\)", line))
        if "== Initial Plan ==" in line:
            regions.append(p)
    return sum(
        1
        for m in re.finditer(r"^\((\d+)\) Exchange\b", plan, re.M)
        if m.group(1) not in initial_ids
    )


def unpartitioned_window_args(df: DataFrame) -> list[str]:
    """Arguments lines of Window operators whose PARTITION BY spec is
    empty — the single-partition global-window shape that cannot scale.
    A partitioned Window prints
    `Arguments: [<exprs>], [<partition cols>], [<order cols>]`; an
    unpartitioned one omits the partition group entirely
    (`Arguments: [<exprs>], [<order cols>]`) — detect both that and an
    explicitly empty group. Tests assert that any such window only
    touches a bounded side frame (e.g. the 16-row offset table of the
    two-pass rank/cumsum pattern), never the big data columns."""
    import re

    out: list[str] = []
    lines = formatted_plan(df).splitlines()
    for i, line in enumerate(lines):
        # \b excludes WindowGroupLimit (a partitioned per-group top-k
        # pushdown whose Arguments line has a different shape)
        if not re.match(r"\(\d+\) Window\b", line.strip()):
            continue
        for j in range(i + 1, min(i + 8, len(lines))):
            arg = lines[j].strip()
            if arg.startswith("Arguments:"):
                groups = _bracket_groups(arg)
                # 2 groups is ambiguous: `[exprs], [order]` (global,
                # ordered — the unscalable shape) vs `[exprs],
                # [partition]` (partitioned, UNordered — e.g. a plain
                # sum() over partitionBy, round-6 bm25 dl window).
                # Order groups always print sort direction markers;
                # partition groups never do.
                two_global = len(groups) == 2 and (
                    groups[-1].strip() == ""
                    or " ASC" in groups[-1]
                    or " DESC" in groups[-1]
                )
                if two_global or (
                    len(groups) >= 3 and groups[-2].strip() == ""
                ):
                    out.append(arg)
                break
    return out


def _bracket_groups(line: str) -> list[str]:
    """Top-level [...] groups of a plan Arguments line."""
    groups, depth, cur = [], 0, ""
    for ch in line:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = ""
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append(cur)
                continue
        if depth >= 1:
            cur += ch
    return groups
