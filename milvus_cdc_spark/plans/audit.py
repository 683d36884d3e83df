"""Physical-plan audit helpers.

The scale contract for every operator (SURVEY §4): filters and projections
must reach the parquet scan (PushedFilters / ReadSchema), dimension joins
must broadcast, and hot expressions must stay inside whole-stage codegen.
These helpers make that checkable in tests instead of by eyeball.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def pushed_filters(plan: str) -> list[str]:
    return [
        line.split("PushedFilters:", 1)[1].strip()
        for line in plan.splitlines()
        if "PushedFilters:" in line
    ]


def read_schema_columns(plan: str) -> list[str]:
    """Column lists actually read from parquet (pruning check)."""
    cols = []
    for line in plan.splitlines():
        if "ReadSchema:" in line:
            schema = line.split("ReadSchema:", 1)[1].strip()
            inner = schema[schema.find("<") + 1 : schema.rfind(">")]
            cols.append([f.split(":")[0] for f in inner.split(",") if f])
    return cols


def count_broadcast_joins(plan: str) -> int:
    return plan.count("BroadcastHashJoin")


def count_exchanges(plan: str) -> int:
    """Shuffle count — every Exchange is a full network/disk round at scale."""
    return sum(
        1
        for line in plan.splitlines()
        if "Exchange" in line and "Broadcast" not in line and "Reused" not in line
    )


def codegen_span_count(df: DataFrame) -> int:
    """Number of whole-stage-codegen spans (the `*(n)` markers in the simple
    plan). More operators inside fewer spans = better pipelining."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain()
    ids = set()
    for token in buf.getvalue().split():
        if token.startswith("*("):
            ids.add(token[2 : token.index(")")])
    return len(ids)


# ---------------------------------------------------------------------------
# BroadcastNestedLoopJoin build-side audit (round-9 verdict, next-round #5).
#
# Every BNLJ in this engine is a DELIBERATE tiny-build-side broadcast —
# 1-row cutoff frames, m*k PQ lookup tables, <=16-centroid frames, <=25-row
# query sets. A reshape that accidentally routes a DATA-SIZED frame into a
# BNLJ build side would OOM the driver at 100 TB long before a bench run
# notices it at sf0.1, so the bound is asserted structurally: the audit
# parses the formatted plan's tree, finds each BNLJ's broadcast child, and
# demands bounding evidence for every parquet scan feeding it.
# ---------------------------------------------------------------------------

import re as _re

_NODE_RE = _re.compile(r"([A-Za-z][^()]*?)\s*\((\d+)\)\s*$")
#: Pushed filters that bound a scan to a literal number of rows. Date-range
#: pushdowns deliberately do NOT count: a year of orders is data-sized.
#: The ``(?<!Not\()`` lookbehind rejects negated pushdowns: a pushed
#: ``Not(EqualTo(col,5))``/``Not(In(col,[...]))`` selects the COMPLEMENT
#: (data-sized), so it must not count as bounding evidence.
_PUSHED_LIMIT_RE = _re.compile(
    r"(?<!Not\()(?:LessThan|LessThanOrEqual|EqualTo|In)"
    r"\([A-Za-z_][\w.]*,\s*-?\d+(?:\.\d+)?\)"
)
#: Driver-side Filter conditions that bound or fixed-fraction-sample the
#: scan: modulo-equality query sampling ((vec_id % 20) = 0) or a literal
#: numeric comparison that did not push down (casts in the way).
#: Pushed literal key-set filters — In(col, [lit, ...]) / EqualTo(col,
#: lit). PushedFilters only ever carry literal operands, so any match
#: fixes the scan's KEY cardinality (not its row count — callers pair
#: this with an aggregate-on-path check). Negated forms
#: (``Not(In(...))``) select the complement — data-sized — and are
#: rejected by the lookbehind.
_PUSHED_KEYSET_RE = _re.compile(
    r"(?<!Not\()(?:In|EqualTo)\([A-Za-z_][\w.]*,\s*\[?[^)]*\)"
)
#: The same key-set evidence as a driver-side Filter condition (post-
#: cache filters don't push): ``tok#123 IN (batch,data,...)`` /
#: ``INSET``. Filter conditions only compare against literals on the
#: right of IN/INSET, so a match fixes the scan's key cardinality.
#: The optional leading group captures a negation (``NOT (tok#1 IN``/
#: ``NOT tok#1 INSET``); matches where it fires are complements and
#: must NOT count — use :func:`_filter_keyset_positive`.
_FILTER_KEYSET_RE = _re.compile(
    r"(NOT\s*\(?\s*)?[A-Za-z_][\w.]*#\d+L?\s+(?:IN\s*\(|INSET\s)"
)


def _filter_keyset_positive(text: str) -> bool:
    """True iff the Filter condition carries a NON-negated literal
    key-set predicate (``col#N IN (...)``/``INSET``). A ``NOT``-wrapped
    IN/INSET selects the complement of a literal set — data-sized — so
    only matches without the negation prefix count."""
    return any(
        m.group(1) is None for m in _FILTER_KEYSET_RE.finditer(text)
    )


def _toplevel_conjuncts(ptxt: str) -> list[str]:
    """Split a PushedFilters list body into its top-level
    comma-separated entries (paren/bracket depth tracked), then DROP any
    entry nested inside a ``Not(...)`` or ``Or(...)`` wrapper. The
    lookbehind on the regexes only rejects a DIRECTLY-wrapped negation;
    a pushed ``Not(Or(EqualTo(c,5),EqualTo(c,6)))`` or a disjunct like
    ``Or(EqualTo(c,5),GreaterThan(d,10))`` still contains a positive-
    looking inner EqualTo, though both select data-sized row sets — so
    bounding evidence is scored on surviving top-level conjuncts only
    (a pushed filter list is a conjunction; each surviving entry
    independently bounds the scan)."""
    entries: list[str] = []
    depth = 0
    cur: list[str] = []
    for ch in ptxt:
        if ch == "," and depth == 0:
            entries.append("".join(cur).strip())
            cur = []
            continue
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth = max(0, depth - 1)
        cur.append(ch)
    if cur:
        entries.append("".join(cur).strip())
    return [
        e for e in entries if not _re.match(r"(?:Not|Or)\(", e)
    ]


def _pushed_limit_positive(ptxt: str) -> bool:
    """Pushed literal numeric limit on a NON-negated, NON-disjunctive
    top-level conjunct (see :func:`_toplevel_conjuncts`)."""
    return any(
        _PUSHED_LIMIT_RE.search(e) for e in _toplevel_conjuncts(ptxt)
    )


def _pushed_keyset_positive(ptxt: str) -> bool:
    """Pushed literal key-set filter on a NON-negated, NON-disjunctive
    top-level conjunct (see :func:`_toplevel_conjuncts`)."""
    return any(
        _PUSHED_KEYSET_RE.search(e) for e in _toplevel_conjuncts(ptxt)
    )
_FILTER_SAMPLE_RE = _re.compile(r"%\s*\d+\)?\s*\)?\s*=\s*\d+")
_FILTER_LIMIT_RE = _re.compile(r"#\d+L?\)?\s*(?:<|<=|=)\s*-?\d+(?:\.\d+)?\)")

#: Catalog-cardinality columns: one distinct value per CHANNEL /
#: COLLECTION / SOURCE / EVENT TYPE / LANGUAGE — quantities fixed by
#: deployment config or the fixture's generator, independent of corpus
#: size. Curated knowledge, the same epistemic class as _DIM_TABLES:
#: an aggregate keyed EXCLUSIVELY by these produces a catalog-sized
#: frame, so funneling its output through one task is benign. Document
#: keys (doc_id, pk, vec_id, tok, ...) are deliberately absent.
_CATALOG_KEY_COLS = frozenset({
    "vchannel", "collection", "partition_name", "db", "source_db",
    "target_db", "target_collection", "source", "event_type", "op_type",
    "lang", "level",
})

_AGG_KEYS_RE = _re.compile(r"Keys(?: \[\d+\])?: \[([^\]]*)\]")
_ATTR_NAME_RE = _re.compile(r"([A-Za-z_]\w*)#\d+")


def _agg_key_columns(detail: str) -> frozenset[str] | None:
    """Base column names of an Aggregate node's grouping keys, or None
    when the detail carries no Keys list / the keys are computed
    expressions the name extraction cannot fully account for (every
    attribute inside the Keys list is returned, so a key expression
    over a non-catalog column keeps that column visible and fails the
    subset test — fail-closed)."""
    m = _AGG_KEYS_RE.search(detail)
    if not m or not m.group(1).strip():
        return None
    return frozenset(
        name.lower() for name in _ATTR_NAME_RE.findall(m.group(1))
    )


def parse_plan_tree(plan: str) -> list[tuple[int, str, int]]:
    """The formatted plan's tree section as (depth, node_name, node_id)
    rows in pre-order. Depth is derived from the 3-column indent of the
    ``:-``/``+-`` branch markers; the root has depth 0."""
    nodes: list[tuple[int, str, int]] = []
    for line in plan.splitlines():
        if _re.match(r"^\(\d+\) ", line):
            break  # detail section begins
        m = _NODE_RE.search(line)
        if not m:
            continue
        pos = max(line.rfind(":- "), line.rfind("+- "))
        depth = 0 if pos < 0 else pos // 3 + 1
        nodes.append((depth, m.group(1).strip().lstrip("* ").strip(), int(m.group(2))))
    return nodes


def node_details(plan: str) -> dict[int, str]:
    """Map node id -> its detail block text (the ``(7) Filter ...`` blocks)."""
    details: dict[int, str] = {}
    cur = None
    for line in plan.splitlines():
        m = _re.match(r"^\((\d+)\) (.*)", line)
        if m:
            cur = int(m.group(1))
            details[cur] = m.group(2)
        elif cur is not None:
            details[cur] += "\n" + line
    return details


def _subtree(nodes, idx):
    """Nodes of the subtree rooted at nodes[idx] (inclusive, pre-order)."""
    d = nodes[idx][0]
    out = [nodes[idx]]
    for n in nodes[idx + 1 :]:
        if n[0] <= d:
            break
        out.append(n)
    return out


def bnlj_build_audit(plan: str) -> list[dict]:
    """Classify every BroadcastNestedLoopJoin build side in a formatted
    plan. Returns one record per BNLJ::

        {"bnlj_id": int, "verdict": "bounded" | "unbounded" | "opaque",
         "evidence": [str, ...]}

    A build side is *bounded* when every ``Scan parquet`` inside the
    broadcast child's subtree has, on its path up to the exchange, an
    Aggregate (the scan collapses to group-count rows — cutoffs, LUTs,
    centroids), or carries a pushed literal numeric limit
    (``LessThan(vec_id,5)`` query frames), or sits under a Filter with a
    modulo-sample / literal numeric bound (non-pushable variants of the
    same). ``Range``/``LocalTableScan`` leaves are literal-sized, and a
    ``ReusedExchange`` child is validated at its original occurrence in
    the same plan. *opaque* = the parser found no broadcast child at all
    (never expected; surfaced loudly rather than silently passed).

    Residual risk, accepted: an aggregate KEYED BY a data-sized column
    would still pass — static plan text cannot see group cardinality.
    The audit is a tripwire for the common accident (a raw or
    filter-only data-sized frame reaching a BNLJ), not a cardinality
    proof.
    """
    nodes = parse_plan_tree(plan)
    details = node_details(plan)
    out: list[dict] = []
    for i, (depth, name, nid) in enumerate(nodes):
        if "BroadcastNestedLoopJoin" not in name:
            continue
        rec = {"bnlj_id": nid, "verdict": "opaque", "evidence": []}
        # the build side is the direct child that broadcasts
        kids = [
            j
            for j in range(i + 1, len(nodes))
            if nodes[j][0] == depth + 1 and j < i + 1 + len(_subtree(nodes, i)) - 1
        ]
        build_idx = next(
            (
                j
                for j in kids
                if "BroadcastExchange" in nodes[j][1]
                or "ReusedExchange" in nodes[j][1]
            ),
            None,
        )
        if build_idx is None:
            rec["evidence"].append("no broadcast child found under BNLJ")
            out.append(rec)
            continue
        if "ReusedExchange" in nodes[build_idx][1]:
            rec["verdict"] = "bounded"
            rec["evidence"].append("ReusedExchange (validated at original)")
            out.append(rec)
            continue
        bt = _subtree(nodes, build_idx)
        # Sources that can carry data-sized rows into the broadcast.
        # Parquet scans need bounding evidence; cached frames
        # (InMemoryRelation) re-render their cached plan as child nodes
        # in formatted mode, so their underlying parquet scans are
        # checked directly. ``Scan ExistingRDD`` is accepted as bounded
        # by construction — in this engine those are driver literals
        # (createDataFrame probe/config frames) or localCheckpointed
        # control frames (centroids, BPE merge tables, greedy picks);
        # residual risk: a checkpointed data-sized frame would pass,
        # but nothing statically distinguishes it.
        scans = [(k, n) for k, n in enumerate(bt) if "Scan parquet" in n[1]]
        for k, n in enumerate(bt):
            if "ExistingRDD" in n[1]:
                rec["evidence"].append(
                    f"ExistingRDD({n[2]}) accepted: driver-literal or "
                    f"checkpointed control frame"
                )
        if not scans:
            leafkinds = {n[1].split()[0] for n in bt}
            rec["verdict"] = "bounded"
            rec["evidence"].append(
                f"literal-only sources in build subtree: {sorted(leafkinds)}"
            )
            out.append(rec)
            continue
        all_ok = True
        for k, scan in scans:
            # Ancestors of this scan WITHIN the build subtree: nearest
            # preceding node with STRICTLY smaller depth, repeatedly.
            # (Not exact depth-1 steps — InMemoryRelation re-renders
            # indent their cached subtree by 2 extra levels, leaving
            # gaps in the depth sequence.)
            path = []
            want = scan[0]
            for n in reversed(bt[:k]):
                if n[0] < want:
                    path.append(n)
                    want = n[0]
            agg = next((n for n in path if "Aggregate" in n[1]), None)
            if agg is not None:
                keys = "Keys: []" in details.get(agg[2], "")
                rec["evidence"].append(
                    f"scan({scan[2]}) under {'global' if keys else 'keyed'} "
                    f"aggregate ({agg[2]})"
                )
                continue
            pf = details.get(scan[2], "")
            pushed = _re.search(r"PushedFilters: \[(.*)\]", pf)
            if pushed and _pushed_limit_positive(pushed.group(1)):
                rec["evidence"].append(
                    f"scan({scan[2]}) pushed literal limit: {pushed.group(1)}"
                )
                continue
            filt = next(
                (
                    n
                    for n in path
                    if n[1].startswith("Filter")
                    and (
                        _FILTER_SAMPLE_RE.search(details.get(n[2], ""))
                        or _FILTER_LIMIT_RE.search(details.get(n[2], ""))
                    )
                ),
                None,
            )
            if filt is not None:
                rec["evidence"].append(
                    f"scan({scan[2]}) under sampling/limit Filter ({filt[2]})"
                )
                continue
            all_ok = False
            rec["evidence"].append(
                f"scan({scan[2]}) DATA-SIZED: no aggregate, pushed limit, "
                f"or sampling filter on its path (PushedFilters="
                f"{pushed.group(1) if pushed else '?'})"
            )
        rec["verdict"] = "bounded" if all_ok else "unbounded"
        out.append(rec)
    return out


def assert_bnlj_bounded(plan: str, context: str = "") -> list[dict]:
    """Raise AssertionError if any BNLJ build side is unbounded/opaque."""
    recs = bnlj_build_audit(plan)
    bad = [r for r in recs if r["verdict"] != "bounded"]
    assert not bad, f"{context}: unbounded BNLJ build sides: {bad}"
    return recs


def single_partition_audit(plan: str) -> list[dict]:
    """Classify every ``Exchange SinglePartition`` in a formatted plan.

    A SinglePartition exchange funnels its whole input through ONE task —
    the structural opposite of "scales with the data". The benign class
    is the global-scalar shuffle: the exchange's child is a PARTIAL
    aggregate (``partial_sum``/``partial_count``/... in its Functions
    detail), so exactly one buffer row per upstream partition moves.
    ``partial_collect_*`` and exact ``partial_percentile`` do NOT
    qualify for that blanket rule — their one buffer row carries the
    partition's whole payload — and instead need an aggregate below the
    collect on each scan path (one element per group; the group-
    cardinality residual risk is the BNLJ audit's, documented there).
    Also benign: a ``LocalLimit`` child (<= limit rows per partition),
    a child aggregate keyed EXCLUSIVELY by catalog-cardinality columns
    (:data:`_CATALOG_KEY_COLS` — one row per channel/collection/source,
    fixed by config not corpus), and subtrees whose only sources are
    literal-sized leaves (LocalTableScan / Range / ReusedExchange /
    ExistingRDD control frames). Anything else — canonically a Window
    or global row_number over an empty partitionBy on a data-sized
    frame — is *data_sized*: at 100 TB that task is the job.

    Returns one record per SinglePartition exchange::

        {"exchange_id": int, "verdict": "benign" | "data_sized",
         "evidence": [str, ...]}
    """
    nodes = parse_plan_tree(plan)
    details = node_details(plan)
    out: list[dict] = []
    for i, (depth, name, nid) in enumerate(nodes):
        if "Exchange" not in name or "ReusedExchange" in name:
            continue
        if "SinglePartition" not in details.get(nid, ""):
            continue
        rec = {"exchange_id": nid, "verdict": "data_sized", "evidence": []}
        sub = _subtree(nodes, i)
        child = sub[1] if len(sub) > 1 else None
        unbounded_buffer = False
        if child is not None and "Aggregate" in child[1]:
            funcs = details.get(child[2], "")
            # One buffer ROW per upstream partition is only benign when
            # the buffer is fixed-SIZE. partial_collect_list/_set (and
            # exact partial_percentile, which buffers every value) ship
            # the partition's whole payload inside that one row, so the
            # single final task is still data-sized in BYTES — those
            # fall through to the per-scan evidence checks below, where
            # an aggregate on the scan's path becomes acceptable again
            # (the collect then holds one element per group).
            fm = _re.search(r"Functions(?: \[\d+\])?: \[([^\]]*)\]", funcs)
            ftxt = fm.group(1) if fm else ""
            unbounded_buffer = bool(
                _re.search(r"partial_(?:collect_|percentile\()", ftxt)
            )
            if "partial_" in ftxt and not unbounded_buffer:
                rec["verdict"] = "benign"
                rec["evidence"].append(
                    f"child partial aggregate ({child[2]}): one fixed-size "
                    f"buffer row per upstream partition"
                )
                out.append(rec)
                continue
        if child is not None and child[1].startswith("LocalLimit"):
            rec["verdict"] = "benign"
            rec["evidence"].append(
                f"child LocalLimit ({child[2]}): <= limit rows per partition"
            )
            out.append(rec)
            continue
        # Catalog-keyed aggregate child: the funneled frame is the OUTPUT
        # of a (final) aggregate keyed exclusively by catalog-cardinality
        # columns — one row per channel/collection/source/..., a quantity
        # fixed by deployment config, not the corpus (the watermark_ts
        # shape: per-vchannel max -> global-min window). This is curated
        # catalog KNOWLEDGE, same epistemic class as _DIM_TABLES; a
        # groupBy(doc_id)/groupBy(pk) window still fails. The r12 sweep
        # measured the alternative (scalar-augment cross reshape): column
        # pruning de-duplicates nothing — the two aggregate branches get
        # DIFFERENT partial aggregates, ReusedExchange cannot fire, and
        # the corpus is scanned twice; the one-scan window + this
        # allowance is the better 100 TB plan.
        if child is not None and "Aggregate" in child[1]:
            keys = _agg_key_columns(details.get(child[2], ""))
            if keys and keys <= _CATALOG_KEY_COLS:
                rec["verdict"] = "benign"
                rec["evidence"].append(
                    f"child catalog-keyed aggregate ({child[2]}): one row "
                    f"per catalog key {sorted(keys)}"
                )
                out.append(rec)
                continue
        scans = [(k, n) for k, n in enumerate(sub) if "Scan parquet" in n[1]]
        if not scans:
            kinds = sorted({n[1].split()[0] for n in sub[1:]})
            rec["verdict"] = "benign"
            rec["evidence"].append(f"literal-only sources below: {kinds}")
            out.append(rec)
            continue
        # Per-scan bounding evidence, STRICTER than the BNLJ audit's: a
        # bare aggregate ancestor does NOT bound a SinglePartition input
        # (groupBy(doc_id) -> global window is exactly the accident this
        # catches). What does: a pushed literal numeric limit; a pushed
        # literal In/EqualTo key filter COMBINED with an aggregate on the
        # path (the scan collapses to <= |literal set| key groups — the
        # drop_ratio query-vector shape); or a sampling/limit Filter.
        all_ok = True
        for k, scan in scans:
            path = []
            want = scan[0]
            for n in reversed(sub[:k]):
                if n[0] < want:
                    path.append(n)
                    want = n[0]
            # Greedy to the last ']' on the line: the detail renders
            # PushedFilters on one line, and entries like In(col,[..])
            # embed ']' — a non-greedy/char-class bound truncates there
            # and drops later entries (fail-closed, but fragile).
            pf = details.get(scan[2], "")
            pushed = _re.search(r"PushedFilters: \[(.*)\]", pf)
            ptxt = pushed.group(1) if pushed else ""
            agg = next((n for n in path if "Aggregate" in n[1]), None)
            if _pushed_limit_positive(ptxt):
                rec["evidence"].append(
                    f"scan({scan[2]}) pushed literal limit: {ptxt}"
                )
                continue
            keyset_filter = next(
                (
                    n
                    for n in path
                    if n[1].startswith("Filter")
                    and _filter_keyset_positive(details.get(n[2], ""))
                ),
                None,
            )
            if agg is not None and (
                _pushed_keyset_positive(ptxt) or keyset_filter is not None
            ):
                rec["evidence"].append(
                    f"scan({scan[2]}) literal key-set filter + aggregate "
                    f"({agg[2]}): collapses to the literal set's groups"
                )
                continue
            # Collect-buffer child (partial_collect_/partial_percentile):
            # an aggregate BELOW the collect bounds its element count to
            # one per group, so the single task holds |groups| structs —
            # the BNLJ audit's contract. Residual risk, accepted and
            # mirrored from there: an aggregate KEYED BY a data-sized
            # column (groupBy(doc_id) -> collect_list) still passes;
            # static plan text cannot see group cardinality. A collect
            # straight off a raw scan stays data_sized.
            below_agg = next(
                (
                    n
                    for n in path
                    if "Aggregate" in n[1]
                    and (child is None or n[2] != child[2])
                ),
                None,
            )
            if unbounded_buffer and below_agg is not None:
                keys = "Keys: []" in details.get(below_agg[2], "")
                rec["evidence"].append(
                    f"scan({scan[2]}) collect-buffer over "
                    f"{'global' if keys else 'keyed'} aggregate "
                    f"({below_agg[2]}): one element per group "
                    f"(residual risk: group cardinality unproven)"
                )
                continue
            filt = next(
                (
                    n
                    for n in path
                    if n[1].startswith("Filter")
                    and (
                        _FILTER_SAMPLE_RE.search(details.get(n[2], ""))
                        or _FILTER_LIMIT_RE.search(details.get(n[2], ""))
                    )
                ),
                None,
            )
            if filt is not None:
                rec["evidence"].append(
                    f"scan({scan[2]}) under sampling/limit Filter ({filt[2]})"
                )
                continue
            all_ok = False
            rec["evidence"].append(
                f"scan({scan[2]}) DATA-SIZED into one task (child "
                f"{child[1] if child else '?'}; PushedFilters={ptxt or '?'})"
            )
        rec["verdict"] = "benign" if all_ok else "data_sized"
        out.append(rec)
    return out


def assert_single_partition_benign(plan: str, context: str = "") -> list[dict]:
    """Raise AssertionError if any SinglePartition exchange is data-sized."""
    recs = single_partition_audit(plan)
    bad = [r for r in recs if r["verdict"] != "benign"]
    assert not bad, f"{context}: data-sized SinglePartition exchanges: {bad}"
    return recs


# ---------------------------------------------------------------------------
# Broadcast provenance audit (round-10 verdict, next-round #6).
#
# The BNLJ and SinglePartition gates bound nested-loop build sides and
# one-task funnels; the remaining 100x-scale hazard class is an
# ``F.broadcast()`` HINT applied to a frame whose size grows with the
# data — the planner honors an explicit hint regardless of its size
# estimate, so a data-sized forced broadcast OOMs every executor at
# 100 TB while sailing through sf0.1. Two layers, because the physical
# plan cannot show whether a broadcast was hinted or planner-chosen:
#
# 1. ``broadcast_provenance_audit`` (static, physical text): classify
#    every BroadcastExchange build side by its sources — catalog_sized
#    (literal/control frames, fixed tables), k_sized (aggregate-
#    collapsed), query_sized (literal limit / sample / key-set),
#    dim_sized (SF-scaled dimension tables — the documented broadcast-
#    dim contract, SCALE.md §1), planner_sized (a fact-table scan with
#    no structural bound: legitimate ONLY as a size-estimate threshold
#    choice, which AQE demotes at scale — never failed statically,
#    because the text cannot show the hint).
# 2. ``broadcast_hint_audit`` (live, optimized LOGICAL plan): every
#    ``leftHint/rightHint=(strategy=broadcast)`` join side must carry
#    structural bounding evidence (literal source, fixed table,
#    aggregate, limit, sample/key-set filter) or scan only dim-class
#    tables; a hinted side scanning a fact-class table unbounded is
#    *data_sized* — the dump and the negative-control test FAIL on it.
# ---------------------------------------------------------------------------

#: Fixed-cardinality tables: size independent of scale factor.
_FIXED_TABLES = frozenset({"nation", "region"})
#: SF-scaled dimension tables — broadcast by documented contract
#: (planner threshold + AQE demotion at scale; a forced hint on a RAW
#: dim scan is accepted as the engine's dim-join idiom, the residual
#: risk the contract owns).
_DIM_TABLES = frozenset({"supplier", "customer", "part", "orders"})
#: Fact-class tables: grow linearly with the corpus; never broadcastable
#: raw.
_FACT_TABLES = frozenset({"lineitem", "events", "documents", "embeddings"})
#: First-column fingerprints for logical ``Relation [cols] parquet``
#: nodes (the optimized plan shows columns, not paths).
_TABLE_BY_FIRST_COL = {
    "n_nationkey": "nation",
    "r_regionkey": "region",
    "s_suppkey": "supplier",
    "c_custkey": "customer",
    "p_partkey": "part",
    "o_orderkey": "orders",
    "l_orderkey": "lineitem",
    "event_id": "events",
    "doc_id": "documents",
    "vec_id": "embeddings",
}


def _scan_table(detail: str) -> str:
    m = _re.search(r"Location:.*?/(\w+)\.parquet", detail)
    return m.group(1) if m else "?"


def reused_broadcast_count(plan: str) -> int:
    """Number of ``ReusedExchange`` nodes whose referenced operator is
    a ``BroadcastExchange``. GATES.json counts these TOGETHER with
    fresh BroadcastExchanges (the ``bex`` counter): whether the planner
    re-derives an identical broadcast subtree or prints a
    ReusedExchange pointing at the first one is JVM-nondeterministic —
    observed r13 as a 410-vs-411 single-node wobble across re-runs of
    the same tree — so only the combined count is reproducible across
    sweeps. Reuses of SHUFFLE exchanges are excluded (shuffle
    exchanges were never part of ``bex``)."""
    nodes = parse_plan_tree(plan)
    details = node_details(plan)
    by_id = {nid: name for _, name, nid in nodes}
    n = 0
    for _, name, nid in nodes:
        if "ReusedExchange" not in name:
            continue
        m = _re.search(r"Reuses operator id: (\d+)", details.get(nid, ""))
        if m and "BroadcastExchange" in by_id.get(int(m.group(1)), ""):
            n += 1
    return n


def broadcast_provenance_audit(plan: str) -> list[dict]:
    """Classify every ``BroadcastExchange`` build side in a formatted
    physical plan. Returns one record per exchange::

        {"exchange_id": int,
         "verdict": "catalog_sized" | "k_sized" | "query_sized" |
                    "dim_sized" | "planner_sized",
         "evidence": [str, ...]}

    The verdict is the WEAKEST class over the subtree's parquet scans
    (catalog < k < query < dim < planner). ``planner_sized`` — a
    fact-table scan bounded by nothing structural — is reported, not
    failed: the physical text cannot distinguish a size-estimate
    threshold choice (self-demoting under AQE at scale) from a forced
    hint; :func:`broadcast_hint_audit` is the failing gate for hints.
    """
    order = [
        "catalog_sized", "k_sized", "query_sized", "dim_sized",
        "planner_sized",
    ]
    nodes = parse_plan_tree(plan)
    details = node_details(plan)
    out: list[dict] = []
    for i, (depth, name, nid) in enumerate(nodes):
        if "BroadcastExchange" not in name:
            continue
        rec = {"exchange_id": nid, "verdict": "catalog_sized", "evidence": []}
        sub = _subtree(nodes, i)
        scans = [(k, n) for k, n in enumerate(sub) if "Scan parquet" in n[1]]
        if not scans:
            kinds = sorted({n[1].split()[0] for n in sub[1:]})
            rec["evidence"].append(f"literal/control sources only: {kinds}")
            out.append(rec)
            continue
        worst = 0
        for k, scan in scans:
            path = []
            want = scan[0]
            for n in reversed(sub[:k]):
                if n[0] < want:
                    path.append(n)
                    want = n[0]
            table = _scan_table(details.get(scan[2], ""))
            pf = details.get(scan[2], "")
            pushed = _re.search(r"PushedFilters: \[(.*)\]", pf)
            ptxt = pushed.group(1) if pushed else ""
            agg = next((n for n in path if "Aggregate" in n[1]), None)
            if table in _FIXED_TABLES:
                cls = "catalog_sized"
                why = f"scan({scan[2]}) fixed table {table}"
            elif agg is not None:
                cls = "k_sized"
                why = (
                    f"scan({scan[2]}) {table} collapsed by aggregate "
                    f"({agg[2]})"
                )
            elif _pushed_limit_positive(ptxt) or any(
                n[1].startswith("Filter")
                and (
                    _FILTER_SAMPLE_RE.search(details.get(n[2], ""))
                    or _FILTER_LIMIT_RE.search(details.get(n[2], ""))
                    or _filter_keyset_positive(details.get(n[2], ""))
                )
                for n in path
            ):
                cls = "query_sized"
                why = f"scan({scan[2]}) {table} under literal limit/sample"
            elif table in _DIM_TABLES:
                cls = "dim_sized"
                why = f"scan({scan[2]}) dim table {table} (contract: SCALE.md)"
            else:
                cls = "planner_sized"
                why = (
                    f"scan({scan[2]}) {table} unbounded: threshold choice "
                    f"only (hint audit owns the forced case)"
                )
            worst = max(worst, order.index(cls))
            rec["evidence"].append(why)
        rec["verdict"] = order[worst]
        out.append(rec)
    return out


def optimized_logical_plan(df: DataFrame) -> str:
    """The optimized logical plan text — the only layer where an
    explicit broadcast hint is still visible (physical text shows the
    same BroadcastExchange either way)."""
    return df._jdf.queryExecution().optimizedPlan().toString()


def _parse_logical_tree(text: str) -> list[tuple[int, str]]:
    """Logical plan text -> (depth, node_text) rows, pre-order, using
    the same 3-column ``:-``/``+-`` indent scheme as the physical
    tree."""
    rows: list[tuple[int, str]] = []
    for line in text.splitlines():
        if not line.strip():
            continue
        m = _re.search(r"(?::-|\+-) ", line)
        if m:
            depth = m.start() // 3 + 1
            rows.append((depth, line[m.end():].strip()))
        elif not rows:
            rows.append((0, line.strip()))
        # continuation lines (':  ' padding without a marker) are detail
        # text of the previous node; bounding evidence lives in the node
        # head line, so they are skipped.
    return rows


def _logical_subtree(rows, idx):
    d = rows[idx][0]
    out = [rows[idx]]
    for r in rows[idx + 1:]:
        if r[0] <= d:
            break
        out.append(r)
    return out


def broadcast_hint_audit(logical: str) -> list[dict]:
    """Classify every EXPLICIT broadcast-hinted join side in an
    optimized logical plan (``leftHint``/``rightHint`` with
    ``strategy=broadcast`` — exactly the ``F.broadcast()``/hint call
    sites; planner threshold choices carry no hint). Returns one record
    per hinted side::

        {"join": str, "side": "left" | "right",
         "verdict": "catalog_sized" | "k_sized" | "query_sized" |
                    "dim_sized" | "dim_hinted" | "data_sized",
         "evidence": [str, ...]}

    ``dim_hinted`` (a hint on a RAW dim-class scan) is non-failing —
    the documented broadcast-dim contract — but distinct, so dumps
    surface hinted raw-dim sides for review instead of folding them
    into the accepted classes.

    A hinted side is bounded when each of its parquet relations is a
    fixed table, collapsed by an Aggregate / GlobalLimit / LocalLimit
    on its path, under a sample / literal-limit / positive key-set
    Filter, a dim-class table (the documented broadcast-dim contract),
    or JOIN-BOUNDED: an inner/semi equi-join on its path whose other
    side classifies bounded (catalog/k/query) — the output then holds
    at most |bounded side| x per-key multiplicity rows (the PQ
    centroid-init shape: full embeddings inner-joined to 16 seed ids).
    A fact-class relation with none of those is *data_sized*: the hint
    pins the broadcast at any scale — AQE cannot demote it — so the
    audit (and the dump) FAILS. Residual risks, accepted as in the BNLJ
    audit and documented here: an aggregate keyed by a data-sized
    column passes (group cardinality is not statically visible), and
    join-bounding trusts per-key multiplicity to be small (true for the
    unique-key equi-joins it appears in; a many-per-key join against a
    k-sized key set would still pass).
    """
    rows = _parse_logical_tree(logical)
    out: list[dict] = []
    for i, (depth, text) in enumerate(rows):
        if not text.startswith("Join "):
            continue
        hints = []
        if _re.search(r"leftHint=\([^)]*strategy=broadcast", text):
            hints.append("left")
        if _re.search(r"rightHint=\([^)]*strategy=broadcast", text):
            hints.append("right")
        if not hints:
            continue
        sub = _logical_subtree(rows, i)
        kids = [j for j in range(1, len(sub)) if sub[j][0] == depth + 1]
        for side in hints:
            rec = {
                "join": text.split(",")[0],
                "side": side,
                "verdict": "catalog_sized",
                "evidence": [],
            }
            if len(kids) < 2:
                rec["verdict"] = "data_sized"
                rec["evidence"].append("could not resolve join children")
                out.append(rec)
                continue
            cidx = kids[0] if side == "left" else kids[1]
            st = _logical_subtree(sub, cidx)
            verdict, evidence = _classify_logical_side(st)
            rec["verdict"] = verdict
            rec["evidence"] = evidence
            out.append(rec)
    return out


_SIDE_ORDER = [
    "catalog_sized", "k_sized", "query_sized", "dim_sized", "dim_hinted",
    "data_sized",
]


def _classify_logical_side(st: list[tuple[int, str]]) -> tuple[str, list[str]]:
    """Classify one logical subtree (a hinted join side) by the weakest
    class over its parquet relations; see broadcast_hint_audit for the
    evidence rules. Recurses through join-bounding (the other side of
    an inner/semi equi-join on a relation's path)."""
    rels = [
        (k, r) for k, r in enumerate(st) if _re.match(r"Relation \[", r[1])
    ]
    if not rels:
        kinds = sorted({r[1].split()[0] for r in st})
        return "catalog_sized", [f"literal/control sources: {kinds}"]
    worst = 0
    evidence: list[str] = []
    for k, rel in rels:
        first = _re.match(r"Relation \[([^,\]#]+)", rel[1])
        table = _TABLE_BY_FIRST_COL.get(first.group(1) if first else "", "?")
        path = []
        want = rel[0]
        for r in reversed(st[:k]):
            if r[0] < want:
                path.append(r)
                want = r[0]
        bounded_filter = any(
            r[1].startswith("Filter")
            and (
                _FILTER_SAMPLE_RE.search(r[1])
                or _FILTER_LIMIT_RE.search(r[1])
                or _filter_keyset_positive(r[1])
            )
            for r in path
        )
        if table in _FIXED_TABLES:
            cls, why = "catalog_sized", f"fixed table {table}"
        elif any("Aggregate" in r[1].split(" ", 1)[0] for r in path):
            cls, why = "k_sized", f"{table} collapsed by aggregate"
        elif any(
            r[1].startswith(("GlobalLimit", "LocalLimit")) for r in path
        ) or bounded_filter:
            cls, why = "query_sized", f"{table} under limit/sample"
        elif table in _DIM_TABLES:
            # Distinct NON-FAILING verdict for a HINTED raw dim scan:
            # unlike a planner threshold choice, AQE cannot demote a
            # hint, so at 100 TB a forced broadcast of raw orders OOMs
            # exactly like the fact case. The documented broadcast-dim
            # contract (SCALE.md §1) accepts the risk, but dumps surface
            # these sides for review instead of folding them into the
            # silently-accepted dim_sized class.
            cls, why = "dim_hinted", (
                f"HINTED raw dim table {table} (contract: accepted, "
                f"AQE cannot demote a hint — review at scale)"
            )
        else:
            cls, why = _join_bounded_class(st, k, rel, path, table)
        worst = max(worst, _SIDE_ORDER.index(cls))
        evidence.append(why)
    return _SIDE_ORDER[worst], evidence


_HINT_SPAN_RE = _re.compile(r"(?:left|right)Hint=\([^)]*\)")
#: A plain attribute equality in a logical Join head: ``...#12L = ...``
#: (optionally through closing parens of a wrapping expression). ``<=``/
#: ``>=`` fail the ``\s*`` gap; ``!=`` renders as ``NOT (a = b)``.
_JOIN_EQUI_RE = _re.compile(r"#\d+L?\)*\s*=\s")


def _strip_not_spans(text: str) -> str:
    """Remove every ``NOT (...)`` span (balanced parens) from a
    rendered condition. ``a != b`` renders as ``NOT (a#1 = b#2)`` — the
    inner ``=`` is an INEQUALITY and must not read as equi-join
    evidence; likewise a negated equality inside a larger boolean
    (``x AND NOT (a = b)``) bounds nothing. Dropping the whole span is
    semantically safe: no equality UNDER a NOT constrains output size."""
    out: list[str] = []
    i = 0
    while True:
        j = text.find("NOT (", i)
        if j < 0:
            out.append(text[i:])
            return "".join(out)
        out.append(text[i:j])
        depth = 0
        k = j + 4  # index of the opening paren
        while k < len(text):
            if text[k] == "(":
                depth += 1
            elif text[k] == ")":
                depth -= 1
                if depth == 0:
                    break
            k += 1
        i = k + 1


def _join_condition_equi(text: str) -> bool:
    """True iff a logical Join node's condition carries at least one
    EQUALITY comparison (`` = `` or null-safe ``<=>``). Hint spans are
    stripped first — ``rightHint=(strategy=broadcast)`` embeds ``=``
    signs that are not comparisons — and so are ``NOT (...)`` spans: a
    pure ``!=`` theta join renders as ``NOT (a#1 = b#2)`` whose inner
    ``=`` must not grant join-bounding (near-cross, |fact|-sized output
    per key; round-13 ADVICE). A theta join (``a#1 < b#2``) has a
    condition but no equality, so it must NOT grant join-bounding: k
    rows joined non-equi against a fact can emit |fact|-sized output."""
    stripped = _strip_not_spans(_HINT_SPAN_RE.sub("", text))
    return bool(_JOIN_EQUI_RE.search(stripped)) or "<=>" in stripped


def _join_bounded_class(st, k, rel, path, table) -> tuple[str, str]:
    """Last-resort evidence for an otherwise-unbounded relation: an
    inner/semi EQUI-join on its path whose other side classifies
    bounded caps the output at |other side| x per-key rows. Cross
    joins don't qualify (no key, pure multiplication), and neither do
    conditioned NON-equi joins (a theta join against k rows can emit
    |fact|-sized output) — the condition must contain an equality
    (:func:`_join_condition_equi`)."""
    for j, r in enumerate(path):
        head = r[1].split(",")[0]
        if not r[1].startswith("Join ") or "(" not in r[1]:
            continue
        if head not in ("Join Inner", "Join LeftSemi"):
            continue
        if not _join_condition_equi(r[1]):
            continue
        # locate this Join node in st and its two children; recurse on
        # the child NOT containing our relation
        jidx = next(
            (x for x, rr in enumerate(st) if rr is r), None
        )
        if jidx is None:
            continue
        jsub = _logical_subtree(st, jidx)
        jk = [
            x for x in range(1, len(jsub)) if jsub[x][0] == r[0] + 1
        ]
        if len(jk) != 2:
            continue
        # our relation sits between the two children in pre-order:
        # child 0's subtree spans jsub[jk[0]:jk[1]]
        rel_pos = next(
            (x for x, rr in enumerate(jsub) if rr is rel), None
        )
        if rel_pos is None:
            continue
        other = jk[1] if rel_pos < jk[1] else jk[0]
        ocls, _oev = _classify_logical_side(_logical_subtree(jsub, other))
        if ocls in ("catalog_sized", "k_sized", "query_sized"):
            return ocls, (
                f"{table} join-bounded: {head} against a {ocls} side "
                f"(residual risk: per-key multiplicity)"
            )
    return "data_sized", (
        f"HINTED broadcast of unbounded {table} relation — pinned at "
        f"any scale, AQE cannot demote it"
    )


def assert_broadcast_hints_bounded(df: DataFrame, context: str = "") -> list[dict]:
    """Raise AssertionError if any explicit broadcast hint pins a
    data-sized side."""
    recs = broadcast_hint_audit(optimized_logical_plan(df))
    bad = [r for r in recs if r["verdict"] == "data_sized"]
    assert not bad, f"{context}: data-sized broadcast hints: {bad}"
    return recs


# ---------------------------------------------------------------------------
# Condition-less cross audit (round-11 verdict, next-round #4).
#
# The BNLJ gate bounds BUILD sides; the remaining nested-loop hazard is
# the condition-less cross itself: every build row multiplies the whole
# stream, so a k-row build over an unbounded stream emits k x |stream|
# rows into whatever shuffles next. Whether that is a defect depends on
# the BUILD side's cardinality CLASS, not just on it being "bounded":
#
#   * global aggregate (``Keys: []``) / literal / limit build -> the
#     multiplier is 1 (scalar augment) or an author-chosen constant
#     (query frames, config rows, brute-force baselines). Deliberate.
#   * KEYED aggregate build -> the multiplier is a GROUP COUNT the plan
#     text cannot bound, and the shape is frequently avoidable — the
#     langid_precision_recall accident (classes.crossJoin(pred), a
#     |classes|x corpus blowup replaced by one confusion-matrix
#     aggregate) is the live negative control. FAILS unless the query
#     is explicitly reviewed into KEYED_CROSS_ALLOWED.
#   * raw CartesianProduct (neither side broadcastable) -> both sides
#     are data-sized by construction; FAILS unless both carry evidence.
# ---------------------------------------------------------------------------

#: Reviewed keyed-aggregate-build crosses: the group count is bounded by
#: an ALGORITHM constant or the channel catalog, not the data — the one
#: thing static plan text cannot see, recorded here per query instead.
KEYED_CROSS_ALLOWED: dict[str, str] = {
    "ivf_pq_recall": (
        "PQ codebook/centroid frames keyed by (subspace, code): <= m*k "
        "rows by construction (m subspaces x k=2^nbits codes); every "
        "embedding row genuinely needs every codebook row for ADC"
    ),
    "semdedup_prune": (
        "cluster-centroid frame keyed by cluster id: <= k clusters by "
        "construction; every doc row needs every centroid to pick its "
        "nearest cluster"
    ),
    "scd2_asof_enrich": (
        "distinct-weeks frame keyed by date_trunc('week', ts): bounded "
        "by the data's TIME SPAN (~52 rows/year), not its row count; "
        "the users x weeks cross deliberately synthesizes the SCD2 "
        "dim fixture (one tier version per user per week) that a real "
        "deployment would read as a table. Surfaced by the r13 "
        "outermost-aggregate fix; previously hidden under the "
        "keyed-stream-grants-bounded rule."
    ),
    # consistency_levels_read was reviewed in here r11 under the
    # nearest-aggregate rule; the r13 outermost-aggregate fix reads its
    # build correctly as a 1-row global min (scalar_augment), so the
    # entry is retired — the stale-entry test enforces removal.
}

#: Build/side cardinality classes, strongest-bound first.
_CROSS_RANK = {
    "global_agg": 3, "literal": 3, "query": 3, "reused": 3,
    "keyed_agg": 1, "unbounded": 0,
}


def _cross_scan_class(bt, k, scan, details) -> str:
    """Bounding class of one parquet scan inside a cross-join side."""
    path = []
    want = scan[0]
    for n in reversed(bt[:k]):
        if n[0] < want:
            path.append(n)
            want = n[0]
    # Classify by the OUTERMOST aggregate on the path (nearest the
    # cross-child root): that is what fixes the side's cardinality. A
    # scalar computed through a keyed intermediate — count(distinct k),
    # avg over groupBy(doc) lengths (the BM25 avgdl/N build) — plans as
    # HashAggregate(keys=[k]) under HashAggregate(keys=[]), and reading
    # the NEAREST agg would misclassify the 1-row build as keyed
    # (round-13 ADVICE follow-through).
    aggs = [n for n in path if "Aggregate" in n[1]]
    if aggs:
        return (
            "global_agg"
            if "Keys: []" in details.get(aggs[-1][2], "")
            else "keyed_agg"
        )
    pf = details.get(scan[2], "")
    pushed = _re.search(r"PushedFilters: \[(.*)\]", pf)
    if pushed and _pushed_limit_positive(pushed.group(1)):
        return "query"
    if any(
        n[1].startswith("Filter")
        and (
            _FILTER_SAMPLE_RE.search(details.get(n[2], ""))
            or _FILTER_LIMIT_RE.search(details.get(n[2], ""))
        )
        for n in path
    ):
        return "query"
    return "unbounded"


def _cross_side_class(nodes, details, idx) -> tuple[str, list[str]]:
    """Weakest bounding class over one cross-join child subtree.
    ``reused`` trusts the original occurrence of the exchange in the
    same plan (classified where it is built); residual risk, accepted:
    a keyed-agg exchange reused under a second cross with a WIDER
    stream is only audited against its first stream."""
    if "ReusedExchange" in nodes[idx][1]:
        return "reused", ["ReusedExchange (validated at original)"]
    bt = _subtree(nodes, idx)
    scans = [(k, n) for k, n in enumerate(bt) if "Scan parquet" in n[1]]
    if not scans:
        kinds = sorted({n[1].split()[0] for n in bt})
        return "literal", [f"literal/control sources only: {kinds}"]
    classes = [
        (_cross_scan_class(bt, k, s, details), s[2]) for k, s in scans
    ]
    worst = min(classes, key=lambda c: _CROSS_RANK[c[0]])
    ev = [f"scan({nid}) {cls}" for cls, nid in classes]
    return worst[0], ev


def cartesian_audit(plan: str) -> list[dict]:
    """Classify every condition-less cross in a formatted physical plan:
    ``CartesianProduct`` nodes and ``BroadcastNestedLoopJoin`` nodes
    whose detail shows ``Join condition: None`` (conditioned BNLJs are
    theta joins — their output is condition-filtered, and their build
    sides are :func:`bnlj_build_audit`'s contract). Returns one record
    per node::

        {"node_id": int, "kind": "cartesian" | "cross_bnlj",
         "verdict": "bounded" | "scalar_augment" | "literal_multiplied"
                    | "keyed_multiplied" | "unbounded",
         "evidence": [str, ...]}

    Verdicts: *bounded* — the stream side carries rank>=3 evidence
    (global-agg / literal / limit / reused) against a non-unbounded
    build: k x k at worst. Since r13 (ADVICE) a keyed-aggregate side
    NEVER grants bounded — its group count is exactly what plan text
    cannot bound. *scalar_augment* — any stream x global-aggregate
    build: multiplier exactly 1 (the mean/count/cutoff augment idiom).
    *literal_multiplied* — keyed or unbounded stream x literal/limit
    build: an author-chosen constant factor (query panels, config
    frames, labeled brute-force baselines); a keyed stream under a
    constant multiplier is strictly smaller than the accepted
    fact x literal shape. NOTE (ADVICE r13): this class applies only
    to broadcast (BNLJ) crosses, where the literal side is provably
    the build; a RAW CartesianProduct of keyed x literal gets no
    broadcast-build anchor, so it classifies *keyed_multiplied* and
    is allowlist-gated — the asymmetry is intentional (see the
    raw-cartesian branch below). *keyed_multiplied* — keyed or unbounded
    stream x KEYED-aggregate build (incl. both-keyed crosses): the
    multiplier is a group count the plan cannot bound and the shape is
    frequently avoidable (the langid accident); FAILS unless the query
    is reviewed into :data:`KEYED_CROSS_ALLOWED`. *unbounded* — a side
    with no evidence at all (raw cartesian, or a data-sized build the
    BNLJ gate also fails); always FAILS.
    """
    nodes = parse_plan_tree(plan)
    details = node_details(plan)
    out: list[dict] = []
    for i, (depth, name, nid) in enumerate(nodes):
        is_cart = "CartesianProduct" in name
        is_bnlj = "BroadcastNestedLoopJoin" in name
        if not (is_cart or is_bnlj):
            continue
        if is_bnlj and "Join condition: None" not in details.get(nid, ""):
            continue
        rec = {
            "node_id": nid,
            "kind": "cartesian" if is_cart else "cross_bnlj",
            "verdict": "unbounded",
            "evidence": [],
        }
        sub = _subtree(nodes, i)
        kids = [
            j
            for j in range(i + 1, i + len(sub))
            if nodes[j][0] == depth + 1
        ]
        if len(kids) != 2:
            rec["evidence"].append("could not resolve both children")
            out.append(rec)
            continue
        # Match the broadcast build SPECIFICALLY (round-13 ADVICE): a
        # stream side sitting directly under a shuffle Exchange
        # (hashpartitioning/SinglePartition) must not be mistaken for
        # the BNLJ build. ReusedExchange is the fallback — a broadcast
        # build reusing an earlier BroadcastExchange prints as
        # ReusedExchange, and under a BNLJ the reused side IS the build.
        build = next(
            (j for j in kids if "BroadcastExchange" in nodes[j][1]),
            None,
        )
        if build is None:
            build = next(
                (j for j in kids if "ReusedExchange" in nodes[j][1]),
                None,
            )
        if is_cart or build is None:
            # raw cartesian: no broadcast side; both children must
            # carry rank>=3 evidence — a keyed aggregate's group count
            # cannot be bounded from plan text, so keyed x keyed /
            # keyed x literal crosses are allowlist-gated, not silently
            # 'bounded' (round-13 ADVICE). A scalar (global_agg) side
            # multiplies by exactly 1, so scalar x keyed stays the
            # non-failing scalar_augment class.
            sides = [
                _cross_side_class(nodes, details, j) for j in kids
            ]
            rec["evidence"] = [e for _, ev in sides for e in ev]
            ranks = [_CROSS_RANK[c] for c, _ in sides]
            if min(ranks) == 0:
                rec["verdict"] = "unbounded"
            elif all(r >= 3 for r in ranks):
                rec["verdict"] = "bounded"
            elif any(c == "global_agg" for c, _ in sides):
                rec["verdict"] = "scalar_augment"
            else:
                rec["verdict"] = "keyed_multiplied"
            out.append(rec)
            continue
        stream = next(j for j in kids if j != build)
        bcls, bev = _cross_side_class(nodes, details, build)
        scls, sev = _cross_side_class(nodes, details, stream)
        rec["evidence"] = [f"build: {e}" for e in bev] + [
            f"stream: {e}" for e in sev
        ]
        # Ladder ordered by the BUILD (= multiplier) class; round-13
        # ADVICE tightening: only rank>=3 sides grant 'bounded', so a
        # keyed-agg STREAM no longer bounds a keyed-agg build — a
        # both-keyed cross is |g1| x |g2|, two group counts plan text
        # cannot bound (allowlist-gated). A keyed stream under a
        # literal/scalar build stays non-failing: its output is a
        # constant multiple (x k / x 1) of the aggregated stream,
        # strictly smaller than the accepted fact x literal shape.
        if bcls == "unbounded":
            # an evidence-free BUILD is data-sized into every executor
            # regardless of the stream (also bnlj_build_audit's fail)
            rec["verdict"] = "unbounded"
        elif _CROSS_RANK[scls] >= 3:
            rec["verdict"] = "bounded"
        elif bcls == "global_agg":
            rec["verdict"] = "scalar_augment"
        elif _CROSS_RANK[bcls] >= 3:
            rec["verdict"] = "literal_multiplied"
        else:
            rec["verdict"] = "keyed_multiplied"
        out.append(rec)
    return out


def assert_cartesian_bounded(
    plan: str, context: str = "", allow_keyed: bool = False
) -> list[dict]:
    """Raise AssertionError on an ``unbounded`` cross, or on a
    ``keyed_multiplied`` one unless the caller passed ``allow_keyed``
    (dumps pass ``context in KEYED_CROSS_ALLOWED``)."""
    recs = cartesian_audit(plan)
    failing = {"unbounded"} | (
        set() if allow_keyed else {"keyed_multiplied"}
    )
    bad = [r for r in recs if r["verdict"] in failing]
    assert not bad, f"{context}: unbounded/keyed cross joins: {bad}"
    return recs
