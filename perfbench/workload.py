"""The interface each benchmark workload implements for ``run.py``."""

from __future__ import annotations


class Workload:
    """One closed-loop workload with a single client.

    ``run.py`` calls ``inputs`` before any clock starts, ``prepare``
    once the Spark session is up, then ``op`` for the warm ops and the
    timed ops in order (``before_op``/``after_op`` around each timed
    op), and ``finish`` after the timed phase.
    """

    name: str
    warm_ops: int          # untimed ops before the first timed one, fixed
    ops_per_second: float  # timed ops = round(--seconds x this), fixed

    def inputs(self, work: str, seed: int, n_ops: int, digest) -> None:
        """Generate every input ``n_ops`` ops need under ``work`` from
        ``seed``, adding the bytes the engine will read to ``digest``."""
        raise NotImplementedError

    def prepare(self, ctx) -> None:
        """Program-side set-up (counted in set-up time)."""

    def op(self, i: int, ctx) -> tuple[bool, int]:
        """Run op ``i``; return (output correct, input records it consumed)."""
        raise NotImplementedError

    def kind(self, i: int) -> str:
        """Which kind of op ``i`` is, for like-for-like comparisons."""
        return "op"

    def before_op(self, i: int, ctx) -> None:
        pass

    def after_op(self, i: int, ctx, span) -> None:
        """``span`` is the op's root span in traced ops, else None."""

    def finish(self, ctx) -> set[int]:
        """Untimed end-of-run work; returns timed ops found wrong by it."""
        return set()
