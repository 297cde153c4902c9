"""Z-order (Morton-curve) data layout for multi-dimensional file skipping.

At 100 TB the cheapest query is the one that never reads the file:
min/max zone maps (parquet footers, Delta/Iceberg file stats) prune a
scan only if the layout clusters each dimension. Sorting by ONE column
gives perfect pruning on it and none on any other; interleaving the
bits of K grid-scaled columns (the Morton / Z space-filling curve)
gives every interleaved dimension locality at once — each run of
consecutive z-values covers a small sub-rectangle of the key space, so
per-file min/max ranges stay narrow on EVERY dimension and a range
predicate on any of them skips most files.

Design points, chosen for Spark's execution model:

* **Grid scaling is pure per-row integer arithmetic** against
  caller-supplied domain bounds (domain knowledge, or a prior
  approx-quantile pass) — the operator itself never runs a global
  scan, so adding a z-key is a zero-shuffle projection.
* **The interleave is a static bitwise expression chain** (one
  ``shiftright``/``bitwiseAND``/``shiftleft`` term per bit, OR-folded),
  not a higher-order function: HOFs are CodegenFallback (interpreted),
  while a static chain stays inside whole-stage codegen.
* **Writing clustered files = repartitionByRange on the z-key +
  sortWithinPartitions** — exactly one range exchange, the same cost
  any layout rewrite fundamentally pays, then files come out in
  z-runs.

No counterpart in the reference (its cumulative sheet is append-order,
``deltaweekly.py:355-384``); this is the lakehouse-side capability a
100 TB deployment of the same pipeline would lean on.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def grid_cell(col: Column, cell_width, cells: int) -> Column:
    """Scale a non-negative integer column onto ``[0, cells)`` by
    fixed-width integer division — exact (no float in the path) and
    identical arithmetic on any engine. Values past the domain edge
    clamp into the last cell; negatives clamp to 0. ``cell_width`` is
    an int (domain knowledge) or a Column (e.g. a broadcast scalar
    from a prior one-row bounds pass — still zero global sorts)."""
    width = cell_width if isinstance(cell_width, Column) else F.lit(cell_width)
    g = F.call_function("div", col.cast("long"), width.cast("long"))
    return F.greatest(F.least(g, F.lit(cells - 1)), F.lit(0))


def interleave(cols: Sequence[Column], bits: int) -> Column:
    """Morton-interleave ``len(cols)`` grid coordinates of ``bits``
    bits each: bit ``i`` of dimension ``d`` lands at z-bit
    ``i * len(cols) + d``. Built as a static OR-chain of
    ``2 * bits * k`` bitwise terms so whole-stage codegen keeps it."""
    k = len(cols)
    z = F.lit(0).cast("long")
    for d, c in enumerate(cols):
        c = c.cast("long")
        for i in range(bits):
            bit = F.shiftright(c, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * k + d))
    return z


def interleave_sql(cols: Sequence[str], bits: int) -> str:
    """The identical interleave as engine-neutral SQL text (used by the
    DuckDB oracle faces; parenthesized per term so operator precedence
    can't differ between dialects)."""
    k = len(cols)
    terms = [
        f"((({c} >> {i}) & 1) << {i * k + d})"
        for d, c in enumerate(cols)
        for i in range(bits)
    ]
    return " | ".join(terms)
