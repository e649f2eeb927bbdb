"""The one staging primitive: every intermediate the engine pins is pinned
and released here.

Catalyst plans every relational step; the only execution state the engine
manages itself is the intermediates it pins so a plan that reads them more
than once does not recompute them: SQL-cache ``persist`` and
``localCheckpoint``. Inside ``with staged() as st:``

- ``st.cache(df)`` (SQL-cache ``persist`` at the default storage level)
  and ``st.checkpoint(df, eager=...)`` (``localCheckpoint``) pin ``df``
  and return the pinned DataFrame;
- ``st.hold(df)`` takes over a DataFrame another function already pinned
  and returned (its pinned result);
- ``st.release(df)`` frees one pin now -- the superseded round of a loop;
- ``st.keep(df)`` stops holding ``df`` without freeing it -- the last round
  of a loop that becomes the result.

On exit, also on an exception, everything still held is released, newest
first. Where a ``finally`` already exists, ``st = Stage()`` with
``st.close()`` in it does the same.

The ownership rule: **a DataFrame returned to the caller is not staged.**
The caller owns it, and with it every pin the returned plan still reads (a
lazy result over a checkpoint keeps that checkpoint alive). A function
stages only what it finishes with before it returns.

Releasing is non-blocking. A ``localCheckpoint``'s blocks belong to the
LogicalRDD under it, not to the SQL cache manager, so
``DataFrame.unpersist()`` on a checkpoint frees nothing; :func:`release`
frees both kinds of pin. A released DataFrame is unusable afterwards.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame


def release(df: DataFrame) -> None:
    """Free ``df``'s pin, whichever kind it is: its SQL-cache entry, and
    the block storage of the ``localCheckpoint`` RDD it is (or is a
    persist of). Non-blocking, and best-effort: it runs on error paths,
    where raising would hide the error that got there."""
    try:
        df.unpersist()
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        pass


class Stage:
    """The pins one ``staged()`` block holds; see the module docstring."""

    def __init__(self) -> None:
        self._held: list[DataFrame] = []

    def hold(self, df: DataFrame) -> DataFrame:
        self._held.append(df)
        return df

    def cache(self, df: DataFrame) -> DataFrame:
        return self.hold(df.persist())

    def checkpoint(self, df: DataFrame, eager: bool = True) -> DataFrame:
        return self.hold(df.localCheckpoint(eager=eager))

    def keep(self, df: DataFrame) -> DataFrame:
        self._held = [h for h in self._held if h is not df]
        return df

    def release(self, df: DataFrame) -> None:
        self.keep(df)
        release(df)

    def close(self) -> None:
        while self._held:
            release(self._held.pop())


@contextmanager
def staged() -> Iterator[Stage]:
    st = Stage()
    try:
        yield st
    finally:
        st.close()
