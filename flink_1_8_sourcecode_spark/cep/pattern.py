"""Pattern DSL — surface parity with flink-cep's Pattern builder
(flink-libraries/flink-cep/.../pattern/Pattern.java: begin:128, where:155,
next/followedBy/followedByAny:321, notNext:272, notFollowedBy:303,
optional:332, oneOrMore:351, times:381, greedy:366, within:244,
AfterMatchSkipStrategy).

Semantics subset (documented, SURVEY.md §7 'what's hard' #2):
- ``followed_by`` takes the FIRST qualifying occurrence (Flink followedBy);
  ``followed_by_any`` enumerates every combination (followedByAny).
- quantifiers ``times(n)``, ``times(n, m)``, ``one_or_more`` with optional
  ``greedy`` (prefer longest) — backtracking keeps correctness either way.
- negatives ``not_next`` / ``not_followed_by`` guard the gap to the next
  stage; ``not_followed_by`` cannot end a pattern (same rule as Flink).
- ``within`` bounds first-to-last event time.
- after-match skip: the full reference set — ``no_skip`` (default),
  ``skip_to_next``, ``skip_past_last``, ``skip_to_first(stage)``,
  ``skip_to_last(stage)`` with optional throw-on-miss.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field, replace
from typing import Any

Predicate = Callable[[dict[str, Any]], bool]


class MatchContext:
    """What an iterative condition can see: the rows already bound to
    each stage of the CURRENT partial match — Flink's
    ``IterativeCondition.Context.getEventsForPattern``
    (flink-libraries/flink-cep/.../pattern/conditions/
    IterativeCondition.java).  During a stage's own evaluation its
    current candidate row is NOT yet bound, so ``last(stage)`` inside
    that stage's condition sees the previous occurrence — the SQL
    MATCH_RECOGNIZE running-navigation semantics too."""

    __slots__ = ("_rows", "_bindings", "_cur")

    def __init__(self, rows, bindings, cur=None):
        self._rows = rows
        self._bindings = bindings  # list[(stage_name, row_index)] in match order
        self._cur = cur  # index of the row under evaluation (PREV/NEXT base)

    @staticmethod
    def _targets(stage):
        # ``stage`` may be one name or a collection of names — the latter
        # is how MATCH_RECOGNIZE SUBSET union variables navigate over the
        # merged rows of their component symbols (DataStreamMatch.scala:38
        # carries ``subsets`` end-to-end for exactly this resolution)
        return {stage} if isinstance(stage, str) else set(stage)

    def events_for(self, stage):
        targets = self._targets(stage)
        return [self._rows[i] for s, i in self._bindings if s in targets]

    def first(self, stage, col: str, offset: int = 0):
        """FIRST(S.col[, offset]) navigation: the (offset+1)-th bound
        row of ``stage`` from the front; None when unbound."""
        targets = self._targets(stage)
        seen = 0
        for s, i in self._bindings:
            if s in targets:
                if seen == offset:
                    return self._rows[i].get(col)
                seen += 1
        return None

    def prev(self, col: str, offset: int = 1):
        """PREV(col[, offset]): the physical row ``offset`` positions
        before the one under evaluation, symbol-blind (SQL standard /
        Flink PREV); None off the partition edge."""
        if self._cur is None or self._cur - offset < 0:
            return None
        return self._rows[self._cur - offset].get(col)

    def last(self, stage, col: str, offset: int = 0):
        """LAST(S.col[, offset]) navigation: the (offset+1)-th bound
        row of ``stage`` from the back; None when unbound."""
        targets = self._targets(stage)
        seen = 0
        for s, i in reversed(self._bindings):
            if s in targets:
                if seen == offset:
                    return self._rows[i].get(col)
                seen += 1
        return None


@dataclass(frozen=True)
class Stage:
    name: str
    contiguity: str  # 'begin' | 'next' | 'followed_by' | 'followed_by_any'
    predicates: tuple[Predicate, ...] = ()
    or_predicates: tuple[Predicate, ...] = ()
    iter_predicates: tuple = ()  # (row, MatchContext) -> bool
    until_predicates: tuple = ()  # loop stop condition (Pattern.until)
    times_min: int = 1
    times_max: int | None = 1  # None = unbounded (one_or_more)
    optional: bool = False
    greedy: bool = False
    negative: bool = False  # not_next / not_followed_by
    strict_iter: bool = False  # quantifier occurrences must be consecutive
    # (Flink Pattern.consecutive(); also MATCH_RECOGNIZE's row contiguity)
    group: "tuple[Stage, ...] | None" = None  # GroupPattern.java: one
    # "occurrence" of this stage is a complete match of the nested stage
    # sequence; quantifiers/optional/greedy apply at the sequence level,
    # and matched events keep the INNER stage names

    def accepts(self, row: dict[str, Any], ctx: "MatchContext | None" = None) -> bool:
        base = all(p(row) for p in self.predicates) if self.predicates else True
        if base and self.iter_predicates:
            # SQL three-valued logic at the gate: compiled MR conditions
            # return True/False/None (UNKNOWN) and UNKNOWN rejects; the
            # TypeError catch covers user where_iterative lambdas that
            # compare a raw None navigation themselves
            def ok(p) -> bool:
                r = p(row, ctx)
                return r is not None and bool(r)

            try:
                base = all(ok(p) for p in self.iter_predicates)
            except TypeError:
                base = False
        if self.or_predicates:
            return base or any(p(row) for p in self.or_predicates)
        return base


@dataclass(frozen=True)
class Pattern:
    stages: tuple[Stage, ...] = ()
    within_seconds: float | None = None
    # AfterMatchSkipStrategy.java:46,56 — the full reference set:
    # no_skip | skip_to_next | skip_past_last | skip_to_first | skip_to_last
    skip_strategy: str = "no_skip"
    skip_stage: str | None = None  # skip_to_first/skip_to_last target
    skip_throw_on_miss: bool = False  # SkipToElementStrategy.throwExceptionOnMiss

    # -- construction --------------------------------------------------
    # begin/next/followedBy/followedByAny each take either a stage NAME
    # or a whole Pattern — the latter is Flink's GroupPattern
    # (flink-libraries/flink-cep/.../pattern/GroupPattern.java): the
    # nested sequence matches as one unit, quantifiers apply to the
    # group, and events bind under the inner stage names.
    def _as_group(self) -> tuple[Stage, ...]:
        if not self.stages:
            raise ValueError("empty pattern cannot form a group")
        if self.within_seconds is not None:
            raise ValueError(
                "within() on a nested group pattern is not supported — "
                "apply it to the outermost pattern (Flink's within is "
                "whole-pattern too)"
            )
        if self.skip_strategy != "no_skip":
            raise ValueError(
                "after-match skip on a nested group pattern is not "
                "supported — apply it to the outermost pattern"
            )
        if self.stages[-1].negative:
            raise ValueError(
                "notFollowedBy/notNext cannot end a group (Flink rule)"
            )
        return self.stages

    @staticmethod
    def _stage_for(name_or_pattern, contiguity: str, n_existing: int) -> Stage:
        if isinstance(name_or_pattern, Pattern):
            return Stage(
                name=f"__group{n_existing}",
                contiguity=contiguity,
                group=name_or_pattern._as_group(),
            )
        return Stage(name=name_or_pattern, contiguity=contiguity)

    @staticmethod
    def begin(name: "str | Pattern") -> "Pattern":
        return Pattern(stages=(Pattern._stage_for(name, "begin", 0),))

    def _append(self, stage: Stage) -> "Pattern":
        if self.stages and self.stages[-1].negative and stage.negative:
            raise ValueError("consecutive negative stages are not supported")
        return replace(self, stages=self.stages + (stage,))

    def next(self, name: "str | Pattern") -> "Pattern":
        return self._append(self._stage_for(name, "next", len(self.stages)))

    def followed_by(self, name: "str | Pattern") -> "Pattern":
        return self._append(self._stage_for(name, "followed_by", len(self.stages)))

    def followed_by_any(self, name: "str | Pattern") -> "Pattern":
        return self._append(
            self._stage_for(name, "followed_by_any", len(self.stages))
        )

    def not_next(self, name: str) -> "Pattern":
        if isinstance(name, Pattern):
            raise NotImplementedError(
                "negative group patterns are not supported (Flink's "
                "notNext/notFollowedBy take a name, Pattern.java:272,303)"
            )
        return self._append(Stage(name=name, contiguity="next", negative=True))

    def not_followed_by(self, name: str) -> "Pattern":
        if isinstance(name, Pattern):
            raise NotImplementedError(
                "negative group patterns are not supported (Flink's "
                "notNext/notFollowedBy take a name, Pattern.java:272,303)"
            )
        return self._append(Stage(name=name, contiguity="followed_by", negative=True))

    # -- stage modifiers (apply to the last stage) ---------------------
    def _mod(self, **kw) -> "Pattern":
        if not self.stages:
            raise ValueError("no stage to modify; call begin() first")
        last = replace(self.stages[-1], **kw)
        return replace(self, stages=self.stages[:-1] + (last,))

    def _no_group(self, what: str) -> None:
        # GroupPattern.java overrides where/or/until to throw — conditions
        # attach to the inner stages, quantifiers to the group
        if self.stages and self.stages[-1].group is not None:
            raise NotImplementedError(
                f"{what} on a group pattern is not supported — put "
                "conditions on the inner pattern's stages "
                "(GroupPattern.java where/or/until throw the same way)"
            )

    def where(self, pred: Predicate) -> "Pattern":
        self._no_group("where()")
        return self._mod(predicates=self.stages[-1].predicates + (pred,))

    def where_iterative(self, pred) -> "Pattern":
        """IterativeCondition parity (IterativeCondition.java): ``pred``
        is called as ``pred(row, ctx)`` where ``ctx`` is a
        ``MatchContext`` over the current partial match — e.g.
        ``lambda e, ctx: e["price"] < ctx.last("A", "price")``."""
        self._no_group("where_iterative()")
        return self._mod(iter_predicates=self.stages[-1].iter_predicates + (pred,))

    def or_where(self, pred: Predicate) -> "Pattern":
        self._no_group("or_where()")
        return self._mod(or_predicates=self.stages[-1].or_predicates + (pred,))

    def until(self, pred: Predicate) -> "Pattern":
        """Pattern.until (Pattern.java:219): a STOP condition on a
        looping pattern — once an event matching ``pred`` is reached
        while expanding the loop, no further elements are accepted into
        it (the stop event itself is never consumed by the loop).
        Only meaningful on an unbounded quantifier, same as Flink."""
        self._no_group("until()")
        last = self.stages[-1]
        if last.times_max is not None:
            raise ValueError(
                "until() applies to a looping pattern (one_or_more/"
                "times_or_more), matching Flink's contract"
            )
        return self._mod(until_predicates=last.until_predicates + (pred,))

    def times(self, n: int, m: int | None = None) -> "Pattern":
        return self._mod(times_min=n, times_max=m if m is not None else n)

    def times_or_more(self, n: int) -> "Pattern":
        return self._mod(times_min=n, times_max=None)

    def one_or_more(self) -> "Pattern":
        return self._mod(times_min=1, times_max=None)

    def optional(self) -> "Pattern":
        return self._mod(optional=True)

    def greedy(self) -> "Pattern":
        return self._mod(greedy=True)

    def consecutive(self) -> "Pattern":
        """Pattern.consecutive(): quantifier occurrences must be adjacent
        rows (no gaps) — also the MATCH_RECOGNIZE contiguity."""
        return self._mod(strict_iter=True)

    # -- pattern modifiers --------------------------------------------
    def within(self, duration: str) -> "Pattern":
        from flink_1_8_sourcecode_spark.streaming.stateful import _interval_seconds

        return replace(self, within_seconds=_interval_seconds(duration))

    def with_skip(
        self, strategy: str, stage: str | None = None, throw_on_miss: bool = False
    ) -> "Pattern":
        """AfterMatchSkipStrategy (nfa/aftermatch/AfterMatchSkipStrategy.java):
        ``skip_to_first``/``skip_to_last`` take the target ``stage`` name
        (SkipToFirstStrategy/SkipToLastStrategy); ``throw_on_miss`` mirrors
        ``throwExceptionOnMiss()`` — raise when the stage bound no events
        or the skip would not progress past the match's own start, instead
        of silently falling back to no-skip."""
        known = ("no_skip", "skip_to_next", "skip_past_last", "skip_to_first", "skip_to_last")
        if strategy not in known:
            raise ValueError(f"unknown skip strategy {strategy!r}; known: {known}")
        if strategy in ("skip_to_first", "skip_to_last"):
            if not stage:
                raise ValueError(f"{strategy} requires the target stage name")
        elif stage is not None:
            raise ValueError(f"{strategy} takes no stage name")
        return replace(
            self, skip_strategy=strategy, skip_stage=stage, skip_throw_on_miss=throw_on_miss
        )

    def validate(self) -> "Pattern":
        if not self.stages:
            raise ValueError("empty pattern")
        if self.stages[-1].negative:
            raise ValueError("notFollowedBy/notNext cannot end a pattern (Flink rule)")

        def all_names(stages: tuple[Stage, ...]):
            for s in stages:
                if s.group is not None:
                    yield from all_names(s.group)
                else:
                    yield s.name

        names = list(all_names(self.stages))
        dupes = sorted({n for n in names if names.count(n) > 1})
        if dupes:
            raise ValueError(
                f"duplicate stage names {dupes} — every stage (including "
                "group members) needs a unique name so event bindings and "
                "navigation stay unambiguous"
            )
        if self.skip_stage is not None and self.skip_stage not in names:
            raise ValueError(
                f"skip target stage {self.skip_stage!r} is not a pattern stage"
            )
        return self
