"""Plan advisor: mechanical lint over a DataFrame's physical plan.

The test suite pins known-good plans (tests/test_plans.py); this is the
same knowledge packaged for USERS of the engine — point it at any
DataFrame before launching a large job and it flags the plan shapes
that melt down at 100 TB:

- a cartesian / broadcast-nested-loop join (all-pairs explosion — the
  shape every blocked operator in this repo exists to avoid);
- a parquet scan with no pushed filters AND no column pruning when the
  query clearly consumes a subset (full-table decode for a narrow
  answer);
- a row-at-a-time Python eval (``BatchEvalPython``) in the plan — the
  ~10-100× slow path vs Arrow-batched pandas UDFs (``ArrowEvalPython``/
  ``MapInPandas`` pass the lint: they are the sanctioned boundary);
- a global Sort directly under the root that no Limit consumes — at
  scale a total sort range-samples and re-executes the upstream plan
  (PLANS.md round-5 sort study; the registry elides these for declared
  queries, but ad-hoc DataFrames do not get that treatment);
- more shuffle Exchanges than a configurable budget (each one is a
  full-data barrier);
- a blocked all-pairs cogroup whose pair grid exceeds a budget
  (``COGROUP_FANOUT``): the block count is read out of the
  ``pmod(xxhash64, B)`` grouping literal, pricing the B(B+1)/2 grid
  with zero jobs — the quadratic shape the join lints cannot see.

Each finding is a (code, message) pair; an empty list means the plan
passes every rule. The rules are advisory — a deliberate crossJoin of
two 10-row dims is fine — which is why this is a lint, not a gate.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from video_streamer_spark.plans.explain import plan_report


@dataclass
class Finding:
    code: str
    message: str


def _parse_tree(text: str) -> list[tuple[int, str, int]]:
    """The formatted plan's tree section as (depth, node_name, node_id)
    rows, in preorder. Depth = length of the ASCII-art prefix, which
    Spark keeps equal for siblings; node ids are the ``(N)`` suffixes
    that key the detail sections."""
    import re as _re

    out: list[tuple[int, str, int]] = []
    for ln in text.splitlines()[1:]:
        if not ln.strip():
            break
        m = _re.search(r"\((\d+)\)\s*$", ln)
        if not m:
            continue
        stripped = _re.sub(r"^[\s:+\-*]+", "", ln)
        out.append(
            (len(ln) - len(stripped), stripped.split(" ")[0], int(m.group(1)))
        )
    return out


def _bnl_build_ids(text: str) -> list[list[int]]:
    """For each BroadcastNestedLoopJoin in the tree, the node ids of its
    BUILD-side subtree (the broadcast side: first child for BuildLeft,
    last for BuildRight). Empty list when the tree can't be parsed —
    callers fall back to the plan-global heuristic."""
    nodes = _parse_tree(text)
    out: list[list[int]] = []
    for i, (depth, name, _nid) in enumerate(nodes):
        if name != "BroadcastNestedLoopJoin":
            continue
        # subtree rows strictly below this node
        sub = []
        for j in range(i + 1, len(nodes)):
            if nodes[j][0] <= depth:
                break
            sub.append(j)
        if not sub:
            continue
        child_depth = min(nodes[j][0] for j in sub)
        children = [j for j in sub if nodes[j][0] == child_depth]
        if not children:
            continue
        # the tree line spells the build side, e.g.
        # "BroadcastNestedLoopJoin Inner BuildLeft (6)"
        line = next(
            ln
            for ln in text.splitlines()
            if ln.rstrip().endswith(f"({_nid})") and name in ln
        )
        build_child = children[0] if "BuildLeft" in line else children[-1]
        # the build subtree: build child + everything under it
        bdepth = nodes[build_child][0]
        ids = [nodes[build_child][2]]
        for j in range(build_child + 1, len(nodes)):
            if nodes[j][0] <= bdepth:
                break
            ids.append(nodes[j][2])
        out.append(ids)
    return out


def lint_plan(
    df: DataFrame,
    max_exchanges: int = 8,
    max_cogroup_grid: int = 120_000,
) -> list[Finding]:
    r = plan_report(df)
    findings: list[Finding] = []

    # Unbounded cogroup fan-out (round-7 VERDICT item 4b): a blocked
    # all-pairs cogroup (x05's shape) is O(B²) tasks where B — the
    # hash-block count — was computed FROM THE INPUT SIZE at plan
    # construction, so the plan itself carries the evidence: the
    # grouping keys are pmod(xxhash64(...), B) with B a literal. The
    # BNL/cartesian lints can't see this (the join is a clean broadcast
    # equi-join); reading B out of the text is the zero-job check. The
    # default budget (~120k block-pairs ≈ 1M rows at the default block
    # size) matches embedding_near_pairs' own max_exact_rows guard, so
    # this fires exactly where that guard was explicitly overridden.
    # r15: the blocked all-pairs shape became a side-tagged grouped map
    # (FlatMapGroupsInPandas over a generated tile index) — same
    # B(B+1)/2 task grid, same pmod literal carrying B — so the lint
    # watches both node spellings.
    if (
        "FlatMapCoGroupsInPandas" in r.text
        or "FlatMapGroupsInPandas" in r.text
    ):
        import re as _re

        def _pmod_block_counts(text: str) -> set[int]:
            """Literal B from every ``pmod(xxhash64(<args>), B)`` in the
            plan text. The hash args may themselves contain parentheses
            (casts, NaN-normalization wrappers), so a balanced scan
            finds xxhash64's closing paren — a ``[^)]*`` regex would
            stop at the first inner close-paren and silently disable
            the lint for exactly the wrapped-key plans."""
            out: set[int] = set()
            needle = "pmod(xxhash64("
            i = text.find(needle)
            while i >= 0:
                k, depth = i + len(needle), 1
                while k < len(text) and depth:
                    if text[k] == "(":
                        depth += 1
                    elif text[k] == ")":
                        depth -= 1
                    k += 1
                m = _re.match(r",\s*(\d+)\)", text[k:])
                if m:
                    out.add(int(m.group(1)))
                i = text.find(needle, k)
            return out

        blocks = _pmod_block_counts(r.text)
        over = [b for b in blocks if b * (b + 1) // 2 > max_cogroup_grid]
        if over:
            b = max(over)
            findings.append(
                Finding(
                    "COGROUP_FANOUT",
                    f"blocked all-pairs grouped map over a {b}-block "
                    f"pair grid = {b * (b + 1) // 2:,} tile tasks "
                    f"(> budget {max_cogroup_grid:,}); the grid grows "
                    "quadratically with input rows. Route to an "
                    "LSH/cluster-blocked variant (sub-quadratic "
                    "candidates), or accept and budget the exact "
                    "all-pairs cost explicitly.",
                )
            )

    if "CartesianProduct" in r.text:
        findings.append(
            Finding(
                "CARTESIAN",
                "CartesianProduct in the plan: every pair of input rows "
                "materializes. Block the join on an equi-key (bands, "
                "cells, buckets) or broadcast the small side.",
            )
        )
    if r.n_bnl_joins > 0:
        # bounded-build-side check, scoped to each BNL's BUILD subtree
        # (r7: the r6 version was plan-global, so a selective filter on
        # an unrelated branch could mask an unbounded theta join — the
        # ADVICE-flagged false negative). A BNL whose broadcast side
        # selects a bounded set (a pushed comparison/equality filter
        # beyond bare IsNotNull, or an explicit Limit, WITHIN that
        # subtree) is the sanctioned broadcast-grid pattern (a handful
        # of query rows against the corpus — q18/x06's shape); a BNL
        # whose build side has neither flags.
        import re as _re

        def _subtree_bounded(ids: list[int]) -> bool:
            for nid in ids:
                detail = _re.search(
                    rf"^\({nid}\) (\w+)(.*?)(?=^\(\d+\) |\Z)",
                    r.text,
                    flags=_re.MULTILINE | _re.DOTALL,
                )
                if not detail:
                    continue
                name, body = detail.group(1), detail.group(2)
                if "Limit" in name:
                    return True
                # a keyless (global) aggregate is provably <= 1 row, and
                # a LocalTableScan is driver-literal data whose size is
                # fixed at plan time — both are the sanctioned one-row /
                # constant-grid broadcast patterns (x205's total, x207's
                # predicate grid)
                if "Aggregate" in name and _re.search(
                    r"Keys(?: \[\d+\])?: \[\]", body
                ):
                    return True
                if name == "LocalTableScan" or body.lstrip().startswith(
                    "ExistingRDD"
                ):
                    # LocalTableScan / Scan ExistingRDD: driver-local
                    # literal data (createDataFrame of a Python list) —
                    # size fixed at plan time, the constant-grid pattern
                    return True
                for pf in _re.findall(r"PushedFilters: \[([^\]]*)\]", body):
                    if any(
                        tok.strip()
                        and not tok.strip().startswith("IsNotNull")
                        for tok in pf.split(",")
                    ):
                        return True
            return False

        build_sides = _bnl_build_ids(r.text)
        if build_sides:
            unbounded = sum(
                1 for ids in build_sides if not _subtree_bounded(ids)
            )
        else:
            # tree unparseable: fall back to the plan-global heuristic
            non_null = any(
                f.strip() and not f.strip().startswith("IsNotNull")
                for pf in r.pushed_filters
                for f in pf.split(",")
            )
            has_limit = _re.search(r"\b(Global|Local)Limit\b", r.text)
            unbounded = 0 if (non_null or has_limit) else r.n_bnl_joins
        if unbounded:
            findings.append(
                Finding(
                    "BNL_JOIN",
                    f"{unbounded} BroadcastNestedLoopJoin(s) with an "
                    "unbounded build side: a non-equi condition with no "
                    "equi-key component scans the full broadcast side "
                    "per row. Add an equi-key (interval bucket, hash "
                    "block) to the join condition, or bound the build "
                    "side.",
                )
            )
    if "BatchEvalPython" in r.text:
        findings.append(
            Finding(
                "ROW_PYTHON_UDF",
                "BatchEvalPython (row-at-a-time Python UDF) in the plan: "
                "10-100x slower than Arrow-batched execution. Use a "
                "pandas_udf / mapInPandas, or better a built-in "
                "expression.",
            )
        )
    # scans that read everything with no real filter pushed (IsNotNull
    # alone is join-key hygiene, not selectivity): only flag when a
    # SIBLING scan does push a selective predicate — that asymmetry is
    # the signature of a filter stuck above one branch (e.g. behind a
    # UDF), while a plain full-table aggregate legitimately reads all
    def _selective(pf: str) -> bool:
        return any(
            tok.strip() and not tok.strip().startswith("IsNotNull")
            for tok in pf.split(",")
        )

    wide_unfiltered = [
        i
        for i, pf in enumerate(r.pushed_filters)
        if not _selective(pf)
        and i < len(r.read_schemas)
        and len(r.read_schemas[i].split(",")) > 8
    ]
    if wide_unfiltered and any(_selective(p) for p in r.pushed_filters):
        findings.append(
            Finding(
                "UNPRUNED_SCAN",
                f"{len(wide_unfiltered)} scan(s) read >8 columns with "
                "no selective pushed filters while sibling scans push "
                "predicates: check that filters and column pruning "
                "reach every branch (a transform between filter and "
                "scan — e.g. a UDF — blocks pushdown).",
            )
        )
    # root-level global sort with no Limit above it: parse the TREE
    # section ("NodeName (N)" lines, indentation-prefixed) — the first
    # few nodes below the root wrappers
    tree: list[str] = []
    for ln in r.text.splitlines()[1:]:
        if not ln.strip():
            break
        name = ln.split("(")[0].strip().lstrip("+-:* ").strip()
        if name:
            tree.append(name.split(" ")[0])
    wrappers = {"AdaptiveSparkPlan", "Project", "ResultQueryStage"}
    top = [n for n in tree[:4] if n not in wrappers]
    if top[:1] == ["Sort"]:
        findings.append(
            Finding(
                "ROOT_SORT",
                "Global Sort at the plan root with no Limit: a total "
                "sort range-samples and re-executes the upstream plan. "
                "Drop the ORDER BY (consumers that re-sort anyway) or "
                "pair it with a LIMIT (TakeOrderedAndProject).",
            )
        )
    if r.n_exchanges > max_exchanges:
        findings.append(
            Finding(
                "EXCHANGE_BUDGET",
                f"{r.n_exchanges} shuffle Exchanges (> budget "
                f"{max_exchanges}): each is a full-data barrier. Reuse "
                "one partitioning across stages (bucketing, "
                "repartition-then-chain) or collapse aggregations.",
            )
        )
    return findings


def lint_streaming(df: DataFrame) -> list[Finding]:
    """The advisor for STREAMING DataFrames (pre-``start()``), where no
    physical plan exists yet — lints the optimized LOGICAL plan for the
    state-management failure modes that batch plans can't have:

    - a streaming aggregation / dropDuplicates with NO watermark: state
      grows forever (every key ever seen stays resident) — at scale the
      job dies of state, not of compute;
    - a stream-stream join without a watermark on both sides: unmatched
      rows buffer unboundedly waiting for a match that may never come
      (watermark both sides and bound the join in time on both sides).

    Advisory like ``lint_plan``: a complete-mode aggregation over a
    provably tiny key domain is legitimate — which is why this lints
    rather than gates."""
    if not df.isStreaming:
        return lint_plan(df)
    # the ANALYZED plan: optimization/physical planning of a streaming
    # DataFrame trips the batch-executability assertion pre-start, but
    # analysis (resolution + watermark placement) is always available
    text = df._jdf.queryExecution().analyzed().toString()  # noqa: SLF001
    findings: list[Finding] = []
    n_watermarks = text.count("EventTimeWatermark")
    has_agg = "Aggregate" in text
    has_dedup = "Deduplicate" in text
    if has_agg and n_watermarks == 0:
        findings.append(
            Finding(
                "UNBOUNDED_STATE_AGG",
                "Streaming aggregation with no watermark: state for "
                "every group ever seen is kept forever. Add "
                "withWatermark(...) on the event-time column so closed "
                "windows/groups evict.",
            )
        )
    if has_dedup and n_watermarks == 0:
        findings.append(
            Finding(
                "UNBOUNDED_STATE_DEDUP",
                "Streaming dropDuplicates with no watermark: the seen-"
                "keys state grows forever. Use "
                "dropDuplicatesWithinWatermark (or add a watermark).",
            )
        )
    n_stream_rels = (
        text.count("StreamingRelation")
        + text.count("StreamingExecutionRelation")
        + text.count("StreamingDataSourceV2")
    )
    if "Join" in text and n_stream_rels >= 2 and n_watermarks < 2:
        findings.append(
            Finding(
                "UNBOUNDED_STREAM_JOIN",
                "Stream-stream join without a watermark on BOTH sides: "
                "unmatched rows buffer unboundedly. Watermark both "
                "inputs and bound the join condition in event time.",
            )
        )
    return findings


def lint_foreach_batch(fn) -> list[Finding]:
    """Source-level lint of a ``foreachBatch`` body (or of the sink
    function that defines one): the anti-patterns that are invisible in
    any plan because they happen per MICRO-BATCH on the driver.

    - ``collect()/toPandas()/toLocalIterator()`` inside the body: the
      whole micro-batch funnels through the driver every trigger — the
      streaming twin of a driver-side loop;
    - ``spark.read...``/``spark.table(...)`` inside the body: a static
      dimension re-read (and re-planned, and possibly re-broadcast)
      every micro-batch — hoist it outside and let the closure capture
      it once.

    Accepts a callable (its source is scanned, so passing the outer
    sink function that defines ``write_batch`` inline works) or a
    source string."""
    import ast
    import inspect
    import textwrap

    src = fn if isinstance(fn, str) else inspect.getsource(fn)
    tree = ast.parse(textwrap.dedent(src))
    findings: list[Finding] = []
    collectors: set[str] = set()
    static_reads: set[str] = set()

    def _chain_names(node) -> set[str]:
        """Identifier segments of an attribute chain, lowercased —
         'batch_df.sparkSession.read' -> {'batch_df','sparksession',
        'read'} — so spark-rooted reads are distinguished from
        open(...).read() / resp.read() (r7 review false positive)."""
        out: set[str] = set()
        while isinstance(node, ast.Attribute):
            out.add(node.attr.lower())
            node = node.value
        if isinstance(node, ast.Name):
            out.add(node.id.lower())
        return out

    def _spark_rooted(names: set[str]) -> bool:
        return bool(
            {"spark", "sparksession", "catalog", "sql_ctx"} & names
        ) or any("spark" in n for n in names)

    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and isinstance(
            node.func, ast.Attribute
        ):
            if node.func.attr in {"collect", "toPandas", "toLocalIterator"}:
                collectors.add(node.func.attr)
            if node.func.attr == "table" and _spark_rooted(
                _chain_names(node.func.value)
            ):
                static_reads.add("table")
        elif isinstance(node, ast.Attribute) and node.attr == "read":
            if _spark_rooted(_chain_names(node.value)):
                static_reads.add("read")
    if collectors:
        findings.append(
            Finding(
                "PER_BATCH_COLLECT",
                f"{sorted(collectors)} inside a foreachBatch body: the "
                "micro-batch funnels through the driver every trigger. "
                "Keep the batch distributed (write/join/agg on the "
                "DataFrame) or bound what is collected.",
            )
        )
    if static_reads:
        findings.append(
            Finding(
                "PER_BATCH_STATIC_READ",
                f"{sorted(static_reads)} inside a foreachBatch body: a "
                "static table is re-read and re-planned every "
                "micro-batch. Load it once outside the body and let the "
                "closure capture it.",
            )
        )
    return findings
