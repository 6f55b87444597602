"""The Django-lookup compiler: ``path__lookup=value`` → Spark logical plans.

This is the load-bearing component (SURVEY.md §2 intro): one compiler that
walks the relationship catalog and regenerates the reference's entire filter
surface (all 13 filtersets in ``tantalus/api/filters.py``, the 15-branch
advanced search ``tantalus/forms.py:537-652``, the Datatables token search
``tantalus/views.py:1197-1213``).

Semantics (mirroring Django QuerySet semantics, SURVEY.md §7 hard part 1):

- Each ``.filter()`` CALL is one join context: conditions inside a call on a
  multi-valued path must be satisfied by the SAME related row; separate calls
  may be satisfied by DIFFERENT related rows (chained ``filter(tags__name=a)
  .filter(tags__name=b)`` = AND across different tags).
- Multi-valued paths (reverse FK / M2M) never fan out the result: each call
  compiles to a *match-set* (distinct root keys satisfying the predicate)
  applied with ``left_semi`` — or ``left_anti`` for ``exclude`` (NOT-EXISTS,
  not ``~isin`` post-join).
- Single-valued paths compile to LEFT joins + a direct filter — no shuffle
  beyond the (broadcast-able) dimension join; Catalyst's EliminateOuterJoin
  turns the left join into an inner join when the predicate rejects nulls.

Physical notes (100 TB design): the per-call match-set is one shuffle
(distinct on root pk) at most; dimension joins broadcast under AQE; the
root table is never re-scanned per call because the running frame chains
lazily into a single Catalyst plan.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tantalus_spark.catalog.relations import Step
from tantalus_spark.compiler.lookups import LOOKUPS, TRANSFORMS
from tantalus_spark.compiler.q import Aggregate, F_ref, Q

_alias_counter = itertools.count()


class DoesNotExist(LookupError):
    """objects.get with zero matches (Django Model.DoesNotExist analog)."""


class MultipleObjectsReturned(LookupError):
    """objects.get with >1 match (Django MultipleObjectsReturned analog)."""


def _fresh(prefix: str) -> str:
    return f"__{prefix}{next(_alias_counter)}"


@dataclass
class _Resolved:
    """A fully resolved path: join steps, final column, lookup, multiplicity."""

    steps: list[Step]
    column: str  # column on the final table (or fk col on src for short-circuit)
    lookup: str
    many: bool
    fk_shortcircuit: bool = False  # final segment was a forward FK compared by key
    transform: str | None = None   # datetime transform (year/month/.../date)


class _JoinFrame:
    """Builds one join context: a frame with the root aliased plus LEFT joins
    for every distinct path prefix, shared within the context (same-call
    conditions on a shared prefix hit the same joined row)."""

    def __init__(self, qs: "QuerySet", base: DataFrame) -> None:
        self.qs = qs
        self.root_alias = _fresh("r")
        self.df = base.alias(self.root_alias)
        self.aliases: dict[tuple[str, ...], tuple[str, str]] = {}  # prefix -> (alias, table)

    def resolve(self, path: str) -> tuple[Column, str, bool]:
        """Return (column expression, lookup name, is_multivalued)."""
        res = self.qs._resolve_path(path)
        if res.fk_shortcircuit or not res.steps:
            col = F.col(f"{self.root_alias}.{res.column}")
        else:
            prefix: tuple[str, ...] = ()
            cur_alias = self.root_alias
            for step in res.steps:
                prefix = prefix + (step.accessor,)
                if prefix not in self.aliases:
                    self.aliases[prefix] = (
                        self._attach(cur_alias, step), step.dst)
                cur_alias = self.aliases[prefix][0]
            col = F.col(f"{cur_alias}.{res.column}")
        if res.transform:
            col = TRANSFORMS[res.transform](col)
        return col, res.lookup, res.many

    def _attach(self, src_alias: str, step: Step) -> str:
        """LEFT-join the step's target (via its junction for M2M) and return
        the target's alias."""
        db = self.qs.db
        if step.via:
            j_alias = _fresh("m")
            junction = db.table(step.via).alias(j_alias)
            self.df = self.df.join(
                junction,
                F.col(f"{src_alias}.{step.src_col}")
                == F.col(f"{j_alias}.{step.via_src_col}"),
                "left",
            )
            src_alias, src_col = j_alias, step.via_dst_col
        else:
            src_col = step.src_col
        t_alias = _fresh("j")
        target = db.table(step.dst).alias(t_alias)
        self.df = self.df.join(
            target,
            F.col(f"{src_alias}.{src_col}") == F.col(f"{t_alias}.{step.dst_col}"),
            "left",
        )
        return t_alias


class QuerySet:
    """Lazy, chainable query over a Database root table — the engine's
    equivalent of a Django QuerySet (the reference's IR, SURVEY.md §3.1)."""

    def __init__(self, db, root: str) -> None:
        self.db = db
        self.root = root
        self._filters: list[tuple[bool, Q]] = []  # (negated, q-tree)
        self._annotations: dict[str, Aggregate] = {}
        self._order: list[str] = []
        self._values: list[tuple[str, str]] | None = None  # (path, out-name)
        self._distinct = False
        self._offset: int | None = None
        self._limit: int | None = None
        self._hints: dict[str, object] = {}

    # ---- chaining API ----------------------------------------------------

    def _clone(self) -> "QuerySet":
        qs = QuerySet(self.db, self.root)
        qs._filters = list(self._filters)
        qs._annotations = dict(self._annotations)
        qs._order = list(self._order)
        qs._values = list(self._values) if self._values is not None else None
        qs._distinct = self._distinct
        qs._offset, qs._limit = self._offset, self._limit
        qs._hints = dict(self._hints)
        return qs

    def hint(self, **hints) -> "QuerySet":
        """Physical-plan hints (never change results). Supported:

        ``distinct_strategy``: how ``Count(distinct=True)`` compiles.
          - ``"expand"`` (default): Spark's native distinct-aggregate
            rewrite. One distinct agg = two-phase partial dedup; N distinct
            aggs = Expand (N× shuffle rows). Per-group state is BOUNDED —
            always safe, any cardinality.
          - ``"collect_set"``: fuse N distinct aggs into size(collect_set)
            — no Expand, but per-group state is O(distinct values); only
            for groups with a known small bound (e.g. lineitems per order
            ≤ 7 in TPC-H), where it measurably beats Expand.
        """
        allowed = {"distinct_strategy"}
        bad = set(hints) - allowed
        if bad:
            raise ValueError(f"unknown hints {sorted(bad)}; allowed {sorted(allowed)}")
        clone = self._clone()
        clone._hints.update(hints)
        return clone

    def filter(self, *qs: Q, **lookups) -> "QuerySet":
        return self._add_filter(False, *qs, **lookups)

    def exclude(self, *qs: Q, **lookups) -> "QuerySet":
        return self._add_filter(True, *qs, **lookups)

    def _add_filter(self, negated: bool, *qs: Q, **lookups) -> "QuerySet":
        node = Q(**lookups)
        for q in qs:
            node = node & q if not node.is_empty() else q
        clone = self._clone()
        clone._filters.append((negated, node))
        return clone

    def annotate(self, **aggs: Aggregate) -> "QuerySet":
        clone = self._clone()
        clone._annotations.update(aggs)
        return clone

    def order_by(self, *cols: str) -> "QuerySet":
        clone = self._clone()
        clone._order = list(cols)
        return clone

    def values(self, *paths: str, **aliased: str) -> "QuerySet":
        clone = self._clone()
        clone._values = [(p, p.replace("__", "_")) for p in paths] + [
            (p, name) for name, p in aliased.items()
        ]
        return clone

    def values_list(self, *paths: str, flat: bool = False) -> "QuerySet":
        """Django ``values_list`` parity (reference models.py:380-385,
        forms.py:650-652): projection to the named paths; ``flat=True``
        requires exactly one path (single-column frame)."""
        if flat and len(paths) != 1:
            raise ValueError("flat=True requires exactly one path")
        return self.values(*paths)

    def distinct(self) -> "QuerySet":
        clone = self._clone()
        clone._distinct = True
        return clone

    def offset(self, n: int) -> "QuerySet":
        clone = self._clone()
        clone._offset = n
        return clone

    def limit(self, n: int) -> "QuerySet":
        clone = self._clone()
        clone._limit = n
        return clone

    # ---- path resolution -------------------------------------------------

    def _resolve_path(self, path: str) -> _Resolved:
        segs = path.split("__")
        cat = self.db.catalog
        table = self.root
        steps: list[Step] = []
        many = False
        i = 0
        while i < len(segs):
            seg = segs[i]
            step = cat.step(table, seg)
            if step is not None:
                rest = segs[i + 1:]
                # forward-FK short-circuit: relation compared by key without a join
                if (
                    not steps
                    and step.via is None
                    and not step.many
                    and step.dst_col == cat.pk(step.dst)
                    and (not rest or (len(rest) == 1 and rest[0] in
                                      ("exact", "in", "isnull")))
                ):
                    lookup = rest[0] if rest else "exact"
                    return _Resolved([], step.src_col, lookup, False,
                                     fk_shortcircuit=True)
                steps.append(step)
                many = many or step.many
                table = step.dst
                i += 1
                continue
            break
        rest = segs[i:]
        columns = set(self.db.table(table).columns)
        if not rest:
            # path ends at a relation: compare by target pk
            return _Resolved(steps, cat.pk(table), "exact", many)
        head = rest[0]
        if head == "pk":
            head = cat.pk(table)
        if head in columns:
            lookup, transform = "exact", None
            tail = rest[1:]
            if tail and tail[0] in TRANSFORMS:
                transform, tail = tail[0], tail[1:]
            if tail:
                if len(tail) != 1 or tail[0] not in LOOKUPS:
                    raise ValueError(f"bad lookup tail {rest[1:]} in {path!r}")
                lookup = tail[0]
            return _Resolved(steps, head, lookup, many, transform=transform)
        if head in LOOKUPS and len(rest) == 1:
            # e.g. tags__isnull=True — existence test on the relation itself
            return _Resolved(steps, cat.pk(table), head, many)
        raise ValueError(
            f"cannot resolve {path!r}: {head!r} is neither a relation of "
            f"{table!r}, a column ({sorted(columns)[:8]}...), nor a lookup"
        )

    # ---- compilation -----------------------------------------------------

    def _compile_q(self, frame: _JoinFrame, node: Q,
                   annot_cols: dict[str, Column]) -> Column:
        parts: list[Column] = []
        for child in node.children:
            if isinstance(child, Q):
                parts.append(self._compile_q(frame, child, annot_cols))
            else:
                path, value = child
                first = path.split("__")[0]
                if first in annot_cols:
                    tail = path.split("__")[1:]
                    lookup = tail[0] if tail else "exact"
                    col = annot_cols[first]
                else:
                    col, lookup, _ = frame.resolve(path)
                if isinstance(value, F_ref):
                    value = (annot_cols[value.name] if value.name in annot_cols
                             else F.col(value.name))
                    # F_ref comparisons are raw column-to-column
                    expr = {
                        "exact": lambda c, v: c == v,
                        "gt": lambda c, v: c > v,
                        "gte": lambda c, v: c >= v,
                        "lt": lambda c, v: c < v,
                        "lte": lambda c, v: c <= v,
                    }[lookup](col, value)
                else:
                    expr = LOOKUPS[lookup](col, value)
                parts.append(expr)
        if not parts:
            return F.lit(True)
        combined = parts[0]
        for p in parts[1:]:
            combined = (combined & p) if node.connector == Q.AND else (combined | p)
        if node.negated:
            # NOT-true semantics: NULL predicate rows are kept (NOT EXISTS style)
            combined = ~F.coalesce(combined, F.lit(False))
        return combined

    def _call_is_multivalued(self, node: Q) -> bool:
        return any(self._resolve_path(p).many for p in node.paths()
                   if p.split("__")[0] not in self._annotations)

    def _references_annotation(self, node: Q) -> bool:
        return any(p.split("__")[0] in self._annotations for p in node.paths())

    def to_df(self) -> DataFrame:
        pk = self.db.catalog.pk(self.root)
        running = self.db.table(self.root)
        root_cols = running.columns

        pre = [(neg, q) for neg, q in self._filters
               if not self._references_annotation(q)]
        post = [(neg, q) for neg, q in self._filters
                if self._references_annotation(q)]

        for neg, q in pre:
            running = self._apply_filter(running, pk, neg, q, {})

        annot_cols: dict[str, Column] = {}
        if self._annotations:
            running = self._apply_annotations(running, pk)
            annot_cols = {name: F.col(name) for name in self._annotations}

        for neg, q in post:
            running = self._apply_filter(running, pk, neg, q, annot_cols)

        order_applied = False
        if self._values is not None:
            frame = _JoinFrame(self, running)
            cols = []
            for path, out in self._values:
                first = path.split("__")[0]
                if first in self._annotations and "__" not in path:
                    cols.append(F.col(f"{frame.root_alias}.{path}").alias(out))
                else:
                    col, _, _ = frame.resolve(path)
                    cols.append(col.alias(out))
            join_order = [c for c in self._order if "__" in c.lstrip("-")]
            if join_order:
                # order through a relation combined with values(): resolve
                # the sort columns on the SAME join frame BEFORE projecting
                # (the projection renames `a__b` to `a_b`, so sorting the
                # projected frame by the raw path would fail to resolve).
                if self._distinct:
                    raise NotImplementedError(
                        "distinct() + values() + order_by through a relation "
                        "is ambiguous (Django adds the ordering column to "
                        "the DISTINCT set); order explicitly by a projected "
                        "column instead")
                sort_cols = []
                for c in self._order:
                    desc = c.startswith("-")
                    path = c.lstrip("-")
                    if "__" in path:
                        col, _, _ = frame.resolve(path)
                    else:
                        col = F.col(f"{frame.root_alias}.{path}")
                    sort_cols.append(col.desc() if desc else col.asc())
                running = frame.df.orderBy(*sort_cols).select(*cols)
                order_applied = True
            else:
                running = frame.df.select(*cols)

        if self._distinct and self._rows_can_repeat():
            running = running.dropDuplicates()

        if self._order and not order_applied:
            join_paths = [c.lstrip("-") for c in self._order
                          if "__" in c.lstrip("-")]
            if join_paths and self._values is None:
                # order_by over a related path: join, sort, project back to
                # root columns. Faithful to Django, including the gotcha
                # that ordering through a multi-valued relation duplicates
                # rows (one per related row).
                frame = _JoinFrame(self, running)
                sort_cols = []
                for c in self._order:
                    desc = c.startswith("-")
                    path = c.lstrip("-")
                    if "__" in path:
                        col, _, _ = frame.resolve(path)
                    else:
                        col = F.col(f"{frame.root_alias}.{path}")
                    sort_cols.append(col.desc() if desc else col.asc())
                running = frame.df.orderBy(*sort_cols).select(
                    f"{frame.root_alias}.*")
            else:
                running = running.orderBy(*[
                    F.col(c[1:]).desc() if c.startswith("-")
                    else F.col(c).asc()
                    for c in self._order
                ])
        if self._offset:
            running = running.offset(self._offset)
        if self._limit is not None:
            running = running.limit(self._limit)
        return running

    def _rows_can_repeat(self) -> bool:
        """Whether ``distinct()`` can change the answer. Up to the
        projection, root rows never fan out: forward FK hops are
        many-to-one, multi-valued filters are semi/anti-join match-sets and
        annotations group by pk. So with a unique root pk and no
        ``values()`` every row is already distinct and the dedup shuffle
        is skipped. (Ordering through a relation is applied after the
        distinct, so it never mattered here.)"""
        return (self._values is not None
                or not self.db.catalog.pk_unique(self.root))

    def _apply_filter(self, running: DataFrame, pk: str, negated: bool, q: Q,
                      annot_cols: dict[str, Column]) -> DataFrame:
        multi = self._call_is_multivalued(q)
        if not multi:
            frame = _JoinFrame(self, running)
            pred = self._compile_q(frame, q, annot_cols)
            if negated:
                pred = ~F.coalesce(pred, F.lit(False))
            return frame.df.filter(pred).select(f"{frame.root_alias}.*")
        self._require_unique_pk(pk, "a multi-valued filter/exclude")
        matches = self._child_matchset(q, annot_cols)
        if matches is None:
            frame = _JoinFrame(self, running)
            pred = self._compile_q(frame, q, annot_cols)
            matches = (
                frame.df.filter(pred)
                .select(F.col(f"{frame.root_alias}.{pk}").alias(pk))
                .dropDuplicates([pk])
            )
        how = "left_anti" if negated else "left_semi"
        return running.join(matches, on=pk, how=how)

    def _child_matchset(self, q: Q, annot_cols: dict[str, Column]):
        """Match-set computed from the CHILD subtree alone, skipping the
        root join entirely: when every path in the call goes through the
        same first multi-valued hop and the predicate is null-rejecting on
        the child side, the matching root keys are exactly the child FK
        values that satisfy the predicate — so filter the (narrow) child
        frame and distinct its key column instead of joining the root to
        the fan-out frame first. Returns None when the rewrite doesn't
        apply (mixed root/child paths, isnull lookups that must see
        no-child rows, negated sub-trees, F_ref values, non-pk hop keys)
        and the caller falls back to the general root-joined frame."""
        cat = self.db.catalog
        pk = cat.pk(self.root)
        paths = q.paths()
        if not paths or (annot_cols and any(
                p.split("__")[0] in annot_cols for p in paths)):
            return None
        if self._q_keeps_null_rows(q):
            return None
        resolved = [self._resolve_path(p) for p in set(paths)]
        if any(not r.steps for r in resolved):
            return None
        steps0 = {r.steps[0] for r in resolved}
        if len(steps0) != 1:
            return None
        s0 = next(iter(steps0))
        if not s0.many or s0.src_col != pk:
            return None
        child_root = s0.dst
        stripped = self._strip_first_accessor(q, s0, cat.pk(child_root))
        if stripped is None:
            return None
        child_qs = QuerySet(self.db, child_root)
        cframe = _JoinFrame(child_qs, self.db.table(child_root))
        pred = child_qs._compile_q(cframe, stripped, {})
        cdf = cframe.df.filter(pred)
        if s0.via:
            # M2M: the root-side key lives on the junction
            j_alias = _fresh("m")
            junction = self.db.table(s0.via).alias(j_alias)
            cdf = cdf.join(
                junction,
                F.col(f"{cframe.root_alias}.{s0.dst_col}")
                == F.col(f"{j_alias}.{s0.via_dst_col}"),
            )
            key = F.col(f"{j_alias}.{s0.via_src_col}")
        else:
            key = F.col(f"{cframe.root_alias}.{s0.dst_col}")
        return cdf.select(key.alias(pk)).dropDuplicates([pk])

    def _q_keeps_null_rows(self, node: Q) -> bool:
        """True when the predicate can be satisfied by the null-extended
        rows a LEFT-joined frame produces for roots with NO related rows
        (isnull lookups, negations) — those semantics need the root join,
        so the child-side match-set rewrite must not fire. F_ref values are
        also flagged: they reference root-frame columns."""
        if node.negated:
            return True
        for child in node.children:
            if isinstance(child, Q):
                if self._q_keeps_null_rows(child):
                    return True
            else:
                path, value = child
                if isinstance(value, F_ref):
                    return True
                if self._resolve_path(path).lookup == "isnull":
                    return True
        return False

    @staticmethod
    def _strip_first_accessor(node: Q, s0: Step, child_pk: str) -> Q | None:
        """Rewrite every leaf path relative to the child table by dropping
        the leading accessor segment (``lineitems__part__p_brand`` →
        ``part__p_brand``; a path ending AT the relation becomes the child
        pk)."""
        out = Q()
        out.connector = node.connector
        out.negated = node.negated
        children: list = []
        for child in node.children:
            if isinstance(child, Q):
                sub = QuerySet._strip_first_accessor(child, s0, child_pk)
                if sub is None:
                    return None
                children.append(sub)
            else:
                path, value = child
                segs = path.split("__")
                if segs[0] != s0.accessor:
                    return None
                children.append(("__".join(segs[1:]) or child_pk, value))
        out.children = children
        return out

    def _require_unique_pk(self, pk: str, what: str) -> None:
        """pk-grain operations (match-sets, annotate group-and-carry) are
        only correct when the root pk uniquely identifies rows; on a table
        flagged otherwise (e.g. lineitem's l_orderkey) they would silently
        match/aggregate at the parent grain — fail loudly instead."""
        if not self.db.catalog.pk_unique(self.root):
            raise ValueError(
                f"{self.root}: declared pk {pk!r} is not unique, so {what} "
                "would operate at the wrong grain; add a unique row id to "
                "the table or root the query at a uniquely-keyed table")

    def _agg_expr(self, agg: Aggregate, col: Column) -> Column:
        if agg.kind == "count":
            if agg.distinct:
                # Strategy is a physical hint (see .hint()): the default
                # Expand path has bounded per-group state at any
                # cardinality; collect_set avoids Expand's N× shuffle rows
                # but holds the distinct set in memory — opt-in for
                # known-small groups only. Null semantics match either way
                # (collect_set drops nulls, countDistinct ignores them).
                if self._hints.get("distinct_strategy") == "collect_set":
                    return F.size(F.collect_set(col)).cast("long")
                return F.count_distinct(col)
            return F.count(col)
        return getattr(F, agg.kind)(col)

    def _apply_annotations(self, running: DataFrame, pk: str) -> DataFrame:
        """Aggregates sharing the same join path fuse into ONE subplan —
        Django runs these as one SQL query too, and unfused they each cost
        a scan + shuffle + join. Different paths stay separate: sharing one
        frame across paths would fan out (the classic
        multi-aggregate-annotate bug).

        Paths through a multi-valued hop take the PRE-AGGREGATION plan
        (:meth:`_annotate_preagg`): aggregate the child subtree on its FK
        key first, then LEFT-join the narrow per-key aggregate onto the
        root. The shuffle carries only the child's key+value columns — at
        100 TB that is the difference between shuffling lineitem's 3
        columns and shuffling the entire orders×lineitem joined frame —
        and the root row never fans out, so no first() carry of root
        columns is needed."""
        self._require_unique_pk(pk, "annotate()")
        groups: dict[tuple[str, ...], list[tuple[str, Aggregate]]] = {}
        for name, agg in self._annotations.items():
            res = self._resolve_path(agg.path)
            path_key = tuple(s.accessor for s in res.steps)
            groups.setdefault(path_key, []).append((name, agg))
        for items in groups.values():
            steps = self._resolve_path(items[0][1].path).steps
            many_at = next(
                (i for i, s in enumerate(steps) if s.many), None)
            if many_at is not None:
                running = self._annotate_preagg(running, steps, many_at, items)
                continue
            # single-valued path (no fan-out): resolve through the join
            # frame and compute the aggregate per root row via group-by-pk
            frame = _JoinFrame(self, running)
            exprs = []
            for name, agg in items:
                col, _, _ = frame.resolve(agg.path)
                exprs.append(self._agg_expr(agg, col).alias(name))
            root = frame.root_alias
            carry = [
                F.first(F.col(f"{root}.{c}")).alias(c)
                for c in running.columns if c != pk
            ]
            running = (
                frame.df
                .groupBy(F.col(f"{root}.{pk}").alias(pk))
                .agg(*carry, *exprs)
            )
            running = self._fill_count_nulls(running, items)
        return running

    def _annotate_preagg(self, running: DataFrame, steps: list[Step],
                         many_at: int,
                         items: list[tuple[str, "Aggregate"]]) -> DataFrame:
        """Child-side pre-aggregation for an annotate path whose hop
        ``many_at`` is the first multi-valued step.

        Build a frame rooted at the multi-valued hop's destination, resolve
        any remaining path inside it, aggregate grouped on the hop's join
        key (the FK for reverse-FK hops, the junction's root-side key for
        M2M), then LEFT-join onto the root through the single-valued prefix
        joins (which cannot fan out)."""
        many_step = steps[many_at]
        prefix = steps[:many_at]
        child_root = many_step.dst
        cat = self.db.catalog
        child_qs = QuerySet(self.db, child_root)
        cframe = _JoinFrame(child_qs, self.db.table(child_root))
        exprs = []
        for name, agg in items:
            rest = "__".join(agg.path.split("__")[many_at + 1:])
            if rest:
                col, _, _ = cframe.resolve(rest)
            else:
                # path ends at the relation itself: aggregate the child pk
                col = F.col(f"{cframe.root_alias}.{cat.pk(child_root)}")
            exprs.append(self._agg_expr(agg, col).alias(name))
        cdf = cframe.df
        if many_step.via:
            # M2M: key the child rows through the junction back to the root
            j_alias = _fresh("m")
            junction = self.db.table(many_step.via).alias(j_alias)
            cdf = cdf.join(
                junction,
                F.col(f"{cframe.root_alias}.{many_step.dst_col}")
                == F.col(f"{j_alias}.{many_step.via_dst_col}"),
            )
            key = F.col(f"{j_alias}.{many_step.via_src_col}")
        else:
            key = F.col(f"{cframe.root_alias}.{many_step.dst_col}")
        k = _fresh("k")
        aggdf = cdf.groupBy(key.alias(k)).agg(*exprs)
        if prefix:
            frame = _JoinFrame(self, running)
            pfx: tuple[str, ...] = ()
            cur = frame.root_alias
            for s in prefix:
                pfx = pfx + (s.accessor,)
                if pfx not in frame.aliases:
                    frame.aliases[pfx] = (frame._attach(cur, s), s.dst)
                cur = frame.aliases[pfx][0]
            joined = frame.df.join(
                aggdf, F.col(f"{cur}.{many_step.src_col}") == F.col(k), "left")
            running = joined.select(
                f"{frame.root_alias}.*", *[name for name, _ in items])
        else:
            joined = running.join(
                aggdf, running[many_step.src_col] == aggdf[k], "left")
            running = joined.drop(k)
        return self._fill_count_nulls(running, items)

    @staticmethod
    def _fill_count_nulls(running: DataFrame,
                          items: list[tuple[str, "Aggregate"]]) -> DataFrame:
        # roots with no related rows: Django Count gives 0, not NULL
        fills = {name: F.coalesce(F.col(name), F.lit(0)).cast("long")
                 for name, agg in items if agg.kind == "count"}
        if fills:
            running = running.withColumns(fills)
        return running

    # ---- actions ---------------------------------------------------------

    def count(self) -> int:
        return self.to_df().count()

    def exists(self) -> bool:
        return bool(self.to_df().limit(1).take(1))

    def first(self):
        """First row under the queryset's ordering, or None."""
        rows = self.to_df().limit(1).take(1)
        return rows[0] if rows else None

    def get(self, **lookups):
        """Exactly-one-row fetch (reference ``objects.get`` /
        ``get_object_or_404``, SURVEY §2.1 S2): raises DoesNotExist on zero
        matches, MultipleObjectsReturned on more than one."""
        qs = self.filter(**lookups) if lookups else self
        rows = qs.to_df().limit(2).take(2)
        if not rows:
            raise DoesNotExist(f"{self.root}: no row matches {lookups!r}")
        if len(rows) > 1:
            raise MultipleObjectsReturned(
                f"{self.root}: more than one row matches {lookups!r}")
        return rows[0]

    def pk_df(self) -> DataFrame:
        """Distinct root keys — the 'session materialization' currency
        (reference stores pk lists in web sessions, ``views.py:1524``)."""
        pk = self.db.catalog.pk(self.root)
        return self.to_df().select(pk).dropDuplicates([pk])
