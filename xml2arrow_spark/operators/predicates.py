"""Disjunctive predicates (OR-of-conjunctions) for the metadata-
accelerated query surface.

Every ``where=`` / ``predicate=`` argument in the engine has historically
been a CONJUNCTION: one ``(column, lo, hi)`` range or ``(column, values)``
IN-list conjunct, or a list of them ANDed together. :func:`any_of` closes
the predicate algebra under OR — a disjunction of such conjunctions
(disjunctive normal form). ``NOT BETWEEN`` arrives for free as its DNF
rewrite: ``x NOT BETWEEN a AND b`` is exactly ``any_of((x, None, a-1),
(x, b+1, None))`` for ints (SQL agrees on NULL: both sides fail), and
:func:`not_between` spells that rewrite for every supported category.

Zone-map soundness under OR (the block classifier's combining rules):

- **pruned**: only when EVERY disjunct prunes the block — a block one
  disjunct cannot match may still match another.
- **interior** (answer from metadata, no decode): only when some single
  disjunct provably matches ALL rows of the block. A disjunct matching
  merely *its own* non-null rows is NOT enough — the rows it fails may
  match a different disjunct, so the union size is unknown without a
  decode. (The conjunction classifiers already demand null-free filter
  columns for interior, which is exactly the all-rows condition.)
- **boundary**: everything else; the row mask is the OR of the
  per-disjunct conjunction masks (NULL/NaN rows fail every disjunct,
  matching SQL WHERE on a DNF).

Reference analog: xml2arrow's config predicate surface is conjunction-only
(`/root/reference/src/config.rs`); the OR layer is part of this engine's
derived query contract, mirroring parquet/Iceberg filter pushdown where
``Or(left, right)`` prunes a row group only when both sides prune.
"""

from __future__ import annotations

__all__ = ["AnyOf", "any_of", "not_between", "not_in"]


class AnyOf:
    """A disjunction of conjunctions (DNF). Each disjunct is one conjunct
    tuple — ``(column, lo, hi)`` or ``(column, values)`` — or a list of
    conjunct tuples (ANDed). Accepted anywhere the metadata-accelerated
    aggregates take a ``predicate=`` / ``where=``."""

    __slots__ = ("disjuncts",)

    def __init__(self, disjuncts):
        disjuncts = list(disjuncts)
        if not disjuncts:
            raise ValueError("any_of needs at least one disjunct")
        for d in disjuncts:
            if isinstance(d, AnyOf):
                raise ValueError(
                    "nested any_of is redundant: OR is associative — "
                    "flatten the disjuncts into one any_of(...)"
                )
        self.disjuncts = disjuncts

    def __repr__(self):  # telemetry/debug only
        return f"any_of({', '.join(map(repr, self.disjuncts))})"


def any_of(*disjuncts) -> AnyOf:
    """``any_of(d1, d2, ...)``: rows matching ANY of the disjuncts. Each
    disjunct is a conjunct tuple or a list of conjunct tuples (a
    conjunction). ``any_of(single_disjunct)`` is accepted and degrades to
    the plain conjunction path (no OR machinery engaged)."""
    return AnyOf(disjuncts)


def not_between(column: str, lo, hi, *, step=1) -> AnyOf:
    """The DNF rewrite of ``column NOT BETWEEN lo AND hi`` for DISCRETE
    categories: ``column <= lo - step OR column >= hi + step``. ``step``
    is the category's unit (1 for ints / temporal ticks). Exact SQL
    semantics: NULL rows fail both SQL forms. Not offered for floats or
    strings — neither has a portable predecessor/successor, so the
    complement of a closed range is not a union of closed ranges there."""
    if lo is None or hi is None:
        raise ValueError(
            "not_between needs both bounds; a one-sided complement is a "
            "plain one-sided range predicate"
        )
    if not isinstance(lo, int) or not isinstance(hi, int) or isinstance(
        lo, bool
    ) or isinstance(hi, bool):
        raise ValueError(
            "not_between supports integer/temporal-tick bounds only (the "
            "complement of a float or string range is not a closed range)"
        )
    return AnyOf([(column, None, lo - step), (column, hi + step, None)])


def not_in(column: str, values, *, step=1) -> AnyOf:
    """The DNF rewrite of ``column NOT IN (values)`` for DISCRETE
    categories: the complement of a point set is the union of the gaps
    between consecutive sorted points (plus the two open tails), each a
    closed range at ``step`` granularity. Exact SQL semantics: NULL rows
    fail both forms (NULL NOT IN (...) is not TRUE). Adjacent points
    produce no empty gap disjunct. Integer/temporal-tick values only —
    floats and strings have no portable predecessor/successor. The
    disjunct count is ``len(values) + 1``, so keep the set at predicate
    scale (a takedown list of thousands belongs in an anti-join, not a
    zone predicate)."""
    vals = sorted(set(values))
    if not vals:
        raise ValueError("not_in needs at least one value")
    if any(isinstance(v, bool) or not isinstance(v, int) for v in vals):
        raise ValueError(
            "not_in supports integer/temporal-tick values only (the "
            "complement of a float or string point set is not a union "
            "of closed ranges)"
        )
    disjuncts: list[tuple] = [(column, None, vals[0] - step)]
    for a, b in zip(vals, vals[1:]):
        if a + step <= b - step:
            disjuncts.append((column, a + step, b - step))
    disjuncts.append((column, vals[-1] + step, None))
    return AnyOf(disjuncts)


class DnfConjuncts(list):
    """INTERNAL resolved form: the flat list of resolved 5-tuple conjuncts
    across every disjunct (so existing call sites that iterate the
    conjunct list to fetch per-conjunct zone stats keep working
    unchanged), plus ``groups`` — ``[(start, end)]`` half-open index
    ranges partitioning the flat list back into disjuncts. Pickles
    through Spark closures like any list subclass (listitems + instance
    state)."""

    def __init__(self, items, groups):
        super().__init__(items)
        self.groups = list(groups)

    def __reduce__(self):
        # explicit and version-proof: plain list data + the group spans
        return (_rebuild_dnf, (list(self), self.groups))


def _rebuild_dnf(items, groups):
    return DnfConjuncts(items, groups)


def dnf(spec, conjunction):
    """The one DNF flattener of ``where=``, ``row_filter=`` and
    ``zone_filter=``: ``conjunction(c)`` validates one conjunction spec
    and returns its conjunct list. A plain ``spec`` is one conjunction;
    an :class:`AnyOf` becomes the flat conjunct list across its disjuncts
    with their spans attached (:class:`DnfConjuncts`), and an ``any_of``
    of a single disjunct IS that disjunct (a plain list, no OR
    machinery)."""
    if not isinstance(spec, AnyOf):
        return conjunction(spec)
    flat: list[tuple] = []
    groups: list[tuple[int, int]] = []
    for d in spec.disjuncts:
        sub = conjunction(d)
        if not sub:
            raise ValueError("any_of disjuncts must be non-empty")
        groups.append((len(flat), len(flat) + len(sub)))
        flat.extend(sub)
    if len(groups) == 1:
        return flat
    return DnfConjuncts(flat, groups)


def conjoin(conjunct: tuple, spec):
    """``conjunct AND spec`` as a predicate spec: a list for a plain
    ``spec`` (one conjunct tuple or a list of them), and for an
    :class:`AnyOf` the conjunct distributed into every disjunct —
    ``c AND (D1 OR D2) == (c AND D1) OR (c AND D2)``."""
    def conj(d):
        return [conjunct] + ([d] if isinstance(d, tuple) else list(d))

    if isinstance(spec, AnyOf):
        return AnyOf([conj(d) for d in spec.disjuncts])
    return conj(spec)
