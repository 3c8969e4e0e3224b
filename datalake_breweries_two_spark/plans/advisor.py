"""Pre-flight physical-plan advisor: the scale-discipline rules the test
suite enforces (`tests/test_plan_discipline.py`), packaged as a reusable
API so a pipeline can audit ITS OWN plans before launching a 100 TB job.

The reference has no plan introspection at all (it submits whatever
`spark.read.json(...).select(...)` produces — reference
``plugins/brewery_operators.py:189-196``); at cluster scale the physical
plan IS the product, and every rule here encodes a failure mode that is
invisible at test row counts but dominant at volume:

- a row-at-a-time Python UDF de-vectorizes the whole stage (~10-100x);
- a cartesian/nested-loop join is O(n*m) the moment both sides grow;
- a filter that did not reach the parquet scan re-reads the full table;
- a global sort materializes the entire relation through one range
  exchange when a top-k (`TakeOrderedAndProject`) was intended;
- every extra wide exchange is a full shuffle of the data.

Usage::

    findings = audit_plan(df, max_wide_exchanges=2)

Heuristics read the EXECUTED plan string (AQE's final layout when
materialized, its initial layout otherwise) — the same surface the frozen
shuffle-budget tests check, so advisor warnings and CI failures agree.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame

# Severity levels: "error" = never acceptable in this engine's discipline;
# "warn" = legitimate only for documented bounded/broadcast cases.
ERROR = "error"
WARN = "warn"


@dataclass(frozen=True)
class Finding:
    rule: str
    severity: str
    detail: str


class PlanAuditError(AssertionError):
    """Raised with the error-level findings of a plan that must not run."""

    def __init__(self, findings: list[Finding]):
        self.findings = findings
        super().__init__(
            "; ".join(f"[{f.severity}] {f.rule}: {f.detail}" for f in findings)
        )


def _plan_string(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# Plan-tree pass-through wrappers that sit between a Window node and the
# operator that actually produces its input rows (sort/shuffle plumbing
# plus AQE/codegen wrappers) — skipped when walking the printed child
# chain to find the window's substantive input node.
_PASSTHROUGH_NODES = (
    "Sort ",
    "Exchange",
    "ShuffleQueryStage",
    "AQEShuffleRead",
    "InputAdapter",
    "WholeStageCodegen",
    "ColumnarToRow",
    # ReusedExchange is deliberately NOT here: it is a LEAF reference
    # node (the next printed line belongs to a sibling branch), resolved
    # explicitly in _pid_window_input_bounded via its [plan_id=N]
    # back-reference to the original exchange.
)

_AGG_KEYS_RE = re.compile(
    r"(?:Hash|SortAggregate|ObjectHashAggregate|Aggregate)[^(]*\(keys=\[([^\]]*)\]"
)


def _pid_window_input_bounded(lines: list[str], i: int) -> bool:
    """Row-bound PROOF for the ``_pid`` boundary-window exemption.

    ``range_prefix_sums`` (operators/windows.py) runs one deliberate
    global window: the per-partition offset pass over
    ``distinct(_pid, totals)`` — ≤ ``n_parts`` rows by construction,
    because ``_tot_*`` is constant within a partition. In the printed
    plan that construction is visible: the Window's child chain (through
    sort/shuffle/AQE plumbing) reaches an aggregate node whose grouping
    keys include ``_pid`` (the distinct). Requiring that evidence — not
    just the column NAME in the order spec — means a future unbounded
    global window ordered by something merely called ``_pid`` is flagged
    instead of hiding behind the known-benign pattern (r11 verdict #5).

    Two walk details matter (r12 review find). A ``ReusedExchange`` in
    the chain is a LEAF reference, not a wrapper — skipping it as
    pass-through would read the NEXT printed line, which belongs to a
    sibling branch of the tree (arbitrary verdict). It is resolved
    instead: the reuse line re-prints the original's ``[plan_id=N]``,
    so the walk jumps below that original node and continues;
    unresolvable reuse returns False (flag loudly, never exempt on
    guesswork). And the chain is walked to the end of the plan rather
    than a fixed lookahead — deep AQE/codegen plumbing stacks can
    exceed any small cap.
    """
    j = i + 1
    seen: set[int] = set()
    while j < len(lines):
        if j in seen:  # defensive: plan_id cycles cannot happen, but
            return False  # never loop forever on a malformed dump
        seen.add(j)
        node = re.sub(r"^[\s+\-:*()0-9]*", "", lines[j])
        if not node:
            j += 1
            continue
        if node.startswith("ReusedExchange"):
            pid = re.search(r"\[plan_id=(\d+)\]", node)
            if not pid:
                return False
            # Contains-style match (not endswith): some Spark versions
            # print trailing annotations after the [plan_id=N] tag on the
            # original exchange line; anchoring to end-of-line would make
            # resolution fail closed and surface a false plan-discipline
            # flag. ReusedExchange lines are still excluded so the reuse
            # node can never resolve to itself or a sibling reuse.
            tag = f"[plan_id={pid.group(1)}]"
            target = None
            for k, cand in enumerate(lines):
                c = re.sub(r"^[\s+\-:*()0-9]*", "", cand)
                if (
                    k != j
                    and not c.startswith("ReusedExchange")
                    and tag in c
                ):
                    target = k
                    break
            if target is None:
                return False
            j = target + 1
            continue
        if node.startswith(_PASSTHROUGH_NODES):
            j += 1
            continue
        m = _AGG_KEYS_RE.match(node)
        return bool(m and "_pid#" in m.group(1))
    return False


# A line whose NODE NAME is the bare `Exchange` operator: optional
# tree-drawing prefix (+- :  *(3) …) then the word. Anchoring at the
# node-name position excludes BroadcastExchange, ReusedExchange, and the
# trailing ", Exchange hashpartitioning(...)" description a ReusedExchange
# line carries about the node it reuses.
_EXCHANGE_NODE = re.compile(r"^[\s+\-:*()0-9]*Exchange(?![A-Za-z])")


def count_wide_exchanges(plan: str) -> int:
    """Number of true shuffle-exchange nodes in a physical-plan string.

    Counts lines whose node name is the bare ``Exchange`` operator only —
    ``BroadcastExchange`` and ``ReusedExchange`` (including the reused
    exchange's description re-printed on the reuse line) are excluded,
    since a reuse node re-reads an exchange already paid for and is not
    an extra shuffle of the data.
    """
    return sum(1 for line in plan.splitlines() if _EXCHANGE_NODE.match(line))


def audit_plan(
    df: DataFrame,
    max_wide_exchanges: int | None = None,
    allow_nested_loop: bool = False,
    allow_global_sort: bool = False,
    allow_unpartitioned_window: bool = False,
) -> list[Finding]:
    """Audit a DataFrame's physical plan; returns findings (empty = clean).

    ``max_wide_exchanges``: budget for shuffle exchanges (Exchange minus
    BroadcastExchange) — pass the number the operator's design promises.
    ``allow_nested_loop`` / ``allow_global_sort`` /
    ``allow_unpartitioned_window``: acknowledge a documented bounded cross
    join, an intentional full ordering, or a window over a provably tiny
    frame that is NOT the ``_pid`` boundary pattern.
    """
    plan = _plan_string(df)
    findings: list[Finding] = []

    if "BatchEvalPython" in plan:
        findings.append(
            Finding(
                "row_python_udf",
                ERROR,
                "BatchEvalPython: row-at-a-time Python UDF de-vectorizes the "
                "stage — use built-in functions or an Arrow-batched pandas UDF",
            )
        )

    if not allow_nested_loop and (
        "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan
    ):
        findings.append(
            Finding(
                "nested_loop_join",
                WARN,
                "cartesian/nested-loop join: O(n*m) once both sides grow — "
                "add an equi-key (bucket, grid cell, band) or broadcast a "
                "provably-bounded side",
            )
        )

    wide = count_wide_exchanges(plan)
    if max_wide_exchanges is not None and wide > max_wide_exchanges:
        findings.append(
            Finding(
                "wide_exchange_budget",
                WARN,
                f"{wide} shuffle exchanges exceed the declared budget of "
                f"{max_wide_exchanges} — a broadcast or partial aggregate "
                "was likely lost",
            )
        )

    # global sort without a top-k: `Sort [...], true, 0` (true = global)
    # anywhere in the plan while no TakeOrderedAndProject exists.
    if not allow_global_sort:
        has_global_sort = "], true, 0" in plan and "Sort [" in plan
        if has_global_sort and "TakeOrderedAndProject" not in plan:
            findings.append(
                Finding(
                    "global_sort",
                    WARN,
                    "global Sort materializes the full relation through a "
                    "range exchange — if a bounded result was intended, use "
                    "limit-k so Spark plans TakeOrderedAndProject",
                )
            )

    # Unpartitioned Window: a `Window [...]` node with no partition spec
    # funnels its whole input through ONE task ("No Partition Defined" in
    # the Spark log) — the plan shape that killed q_ks_test-class queries
    # at scale before the r5 prefix-sum rewrite. EXEMPT: windows ordered
    # by `_pid` — operators/windows.py range_prefix_sums's boundary frame
    # — but ONLY when the printed child chain proves the bounded input
    # (an aggregate keyed on `_pid`, i.e. the ≤ n_parts-row distinct):
    # see :func:`_pid_window_input_bounded`.
    if not allow_unpartitioned_window:
        plan_lines = plan.splitlines()
        for i, line in enumerate(plan_lines):
            node = re.sub(r"^[\s+\-:*()0-9]*", "", line)
            if not node.startswith("Window "):
                continue
            # Window prints only the NON-EMPTY spec groups after the
            # function list: `[exprs], [part], [order]` when both are
            # set, `[exprs], [one-of-them]` when only one is, bare
            # `[exprs]` when neither. Two-group nodes are therefore
            # ambiguous: the second group is an ORDER spec (unpartitioned
            # — flag) only if it carries a sort direction; otherwise it
            # is the partition list of an order-less window (e.g. a
            # partitioned COUNT frame — fine, do not cry wolf).
            groups = node.count("], [")
            if groups >= 2:
                continue  # [exprs], [part], [order] — partitioned
            if groups == 1:
                last = node.rsplit("], [", 1)[1]
                if " ASC" not in last and " DESC" not in last:
                    continue  # [exprs], [part] — partitioned, no order
                if "_pid#" in last and _pid_window_input_bounded(plan_lines, i):
                    continue  # range_prefix_sums boundary: ≤ n_parts rows, proven
            # groups == 0: whole-relation frame — unpartitioned, flag
            findings.append(
                Finding(
                    "unpartitioned_window",
                    WARN,
                    "Window with no PARTITION BY funnels the whole relation "
                    "through one task — partition the window, or compute "
                    "exact global running values with the distributed "
                    "prefix-sum pattern (operators/windows.py "
                    "range_prefix_sums)",
                )
            )
            break  # one finding per plan is enough signal

    # Filter DIRECTLY above a parquet scan that pushed NO filters at all:
    # the predicate never reached the reader, so the scan is full-table.
    # Adjacency matters — a post-shuffle Filter (e.g. on a window count)
    # elsewhere in a plan that also happens to contain a deliberately
    # predicate-free full scan is NOT a pushdown failure. Only the
    # printed child chain Filter → (ColumnarToRow/InputAdapter)* → scan
    # is, because a Filter has exactly one child in the plan tree.
    # (Partial pushdown — e.g. only the implied IsNotNull reached the
    # reader — is not flagged: residual filters above a scan are normal.)
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if not re.sub(r"^[\s+\-:*()0-9]*", "", line).startswith("Filter "):
            continue
        hit = False
        for nxt in lines[i + 1 : i + 4]:
            nnode = re.sub(r"^[\s+\-:*()0-9]*", "", nxt)
            if nnode.startswith(("ColumnarToRow", "InputAdapter")):
                continue
            hit = (
                nnode.startswith(("FileScan parquet", "Scan parquet"))
                and "PushedFilters: []" in nnode
            )
            break
        if hit:
            findings.append(
                Finding(
                    "filter_not_pushed",
                    WARN,
                    "a Filter sits above a parquet scan with PushedFilters: "
                    "[] — the predicate shape (UDF/cast/complex expr) blocked "
                    "pushdown; rewrite it over raw columns so the reader can "
                    "skip row groups",
                )
            )
            break

    return findings
