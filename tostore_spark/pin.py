"""The one way to pin a frame.

A *pin* is a local checkpoint: the frame's plan is replaced by a
``LogicalRDD`` over a checkpoint RDD held in executor block storage.  It
cuts lineage (an iterative loop keeps an O(1) plan), and it evaluates
the frame exactly once however many later plans reference it (the
batch analog of tostore's write-buffer compaction,
``data_store_impl.dart``).  Pins are memory barriers, never durable.

Eager vs lazy.  ``pin(df, eager=True)`` runs the whole frame at pin
time.  ``pin(df)`` (lazy) defers the work to the first action that
reads the pin, but *how much* it defers depends on the frame's root
and on adaptive query execution (AQE, on in ``session.get_spark``):

=================  =====================  =====================
jobs at pin time   eager                  lazy
=================  =====================  =====================
scan-rooted        1                      0
exchange-rooted    2 (AQE on) / 1 (off)   1 (AQE on) / 0 (off)
=================  =====================  =====================

Building the checkpoint RDD of an adaptive plan finalizes the plan,
and AQE can only finalize by running every shuffle stage below the
root, one job per stage.  So a lazy pin over an aggregate, a sort or a
shuffled join runs all its upstream stages at pin time and defers only
the final stage; an eager pin runs those stages plus the final one.
``tests/test_pin.py`` holds these counts.

Source files.  It follows that a lazy pin reads its source files
partly at pin time (the map side of every exchange) and partly at the
first action (the final stage's scans).  A path that later overwrites
or deletes the files its own frame reads must therefore pin eagerly:
a lazy pin could read the final stage after the overwrite.

When not to pin.  A pin costs a job (or a stage) and block-store
memory; it pays only when the frame is read more than once and the
plan cannot share the work itself.  Do not pin:

- a frame that is already a pin (or derived from pins only through
  narrow, cheap projections);
- a frame the plan consumes once;
- a frame whose two references in one plan already share a
  ``ReusedExchange`` (Spark dedupes identical exchange subtrees within
  one query, AQE included).

Do pin: loop state (lineage), a registry frame (it must outlive the
batch or source it came from), a frame several separate actions read,
and a nondeterministic frame whose readers must agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def pin(df: DataFrame, eager: bool = False) -> DataFrame:
    """Local checkpoint of ``df`` (see the module docstring)."""
    return df.localCheckpoint(eager=eager)
