"""Exactly-once wrapper for ``foreachBatch`` upserts.

Spark's ``foreachBatch`` is at-least-once: a restart from a checkpoint can
re-deliver the last micro-batch. :func:`exactly_once_batch_writer` turns
that into "re-runs at most one idempotent batch" with a batch-id ledger.
``streaming/corpus_ingest.py`` wraps its per-batch corpus build with it.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame


def exactly_once_batch_writer(
    upsert: Callable[[DataFrame, int], None], ledger_dir: str
) -> Callable[[DataFrame, int], None]:
    """Wrap a ``foreachBatch`` upsert with a batch-id ledger so REPLAYED
    micro-batches (checkpoint rollback after a crash/restart) are skipped.

    Spark's foreachBatch contract is at-least-once: after an unclean stop,
    the last batch can be re-delivered with the SAME batch_id. The ledger
    records each id with an atomic rename AFTER its upsert succeeds, so:

    - a replay of a completed batch is a no-op (the common restart case);
    - a crash INSIDE the upsert (or between upsert and mark) re-runs that
      one batch — exactly-once overall therefore requires the upsert itself
      to be idempotent, which every TableStore write mode here is
      (partition overwrite replaces itself; merge/SCD are key-idempotent).
      The wrapper turns "re-runs the whole drain" into "re-runs at most one
      idempotent batch".

    Place ``ledger_dir`` BESIDE the checkpointLocation (same filesystem):
    the ledger is only consulted against replays driven by that checkpoint,
    so the two must survive (or be lost) together — a driver restarted on a
    host that sees the checkpoint but not the ledger silently degrades to
    at-least-once (ADVICE r3). Only the last committed batch can ever be
    re-delivered, so the ledger is PRUNED to a small trailing window of
    marks after each commit instead of growing one file per micro-batch
    forever; at 100 TB the same pattern is a txn-id column in the table
    commit log (Delta's txnAppId/txnVersion).
    """
    os.makedirs(ledger_dir, exist_ok=True)
    keep_marks = 16  # replays only ever re-deliver the LAST batch; 16 is slack

    def wrapped(df: DataFrame, batch_id: int) -> None:
        mark = os.path.join(ledger_dir, f"batch-{batch_id}.done")
        if os.path.exists(mark):
            return
        upsert(df, batch_id)
        tmp = f"{mark}.tmp-{os.getpid()}"
        open(tmp, "w").close()
        os.replace(tmp, mark)  # atomic: a mark either exists fully or not
        # prune marks far behind the committed frontier (bounded ledger)
        for fn in os.listdir(ledger_dir):
            if fn.startswith("batch-") and fn.endswith(".done"):
                try:
                    bid = int(fn[len("batch-") : -len(".done")])
                except ValueError:
                    continue
                if bid < batch_id - keep_marks:
                    try:
                        os.unlink(os.path.join(ledger_dir, fn))
                    except OSError:
                        pass

    return wrapped
