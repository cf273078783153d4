"""Per-execution figures from Spark's SQL status store.

The status store (``SharedState.statusStore``) keeps, for every SQL
execution, its final plan graph and the aggregated value of each plan
metric.  It is filled by a listener even when the UI is off, so reading
it needs no port, no event log and no engine change.

Values arrive as the UI formats them (``"12,000"``, ``"952.4 KiB"``,
``"7.8 s"``, or a ``"total (min, med, max ...)\\n<total> (...)"`` block);
``parse_value`` turns them back into numbers (bytes and seconds).  Size
and time figures therefore carry the UI's rounding: three significant
digits.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_SIZE = {"B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30,
         "TiB": 2 ** 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM_UNIT = re.compile(r"^(-?[\d,]*\.?\d+)\s*([A-Za-z]*)$")


def parse_value(text: str) -> float | None:
    """Number behind one formatted metric value, in bytes or seconds."""
    if text is None:
        return None
    total = text.split("\n")[-1].split(" (")[0].strip()
    m = _NUM_UNIT.match(total)
    if not m:
        return None
    num, unit = float(m.group(1).replace(",", "")), m.group(2)
    if not unit:
        return num
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    return None


@dataclass
class Metric:
    """One plan metric (one accumulator) of one execution."""
    node: str
    desc: str
    name: str
    value: float


@dataclass
class Execution:
    start_ms: int
    end_ms: int
    metrics: list[Metric] = field(default_factory=list)
    node_names: list[str] = field(default_factory=list)


class StatusStore:
    """Reads finished SQL executions of one SparkSession.

    Execution ids are assigned in order, so a span is the id range
    between two ``mark()`` calls; ``read`` turns a range into figures
    after the timed work is over.
    """

    def __init__(self, spark):
        self._spark = spark
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._flush()
        ids = [e.executionId() for e in _iter(self._store.executionsList())]
        self._next = max(ids, default=-1) + 1

    def _flush(self) -> None:
        # the store is fed asynchronously; drain the listener bus first
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def mark(self) -> int:
        """Id of the next execution to start."""
        self._flush()
        while self._store.execution(self._next).isDefined():
            self._next += 1
        return self._next

    def read(self, lo: int, hi: int) -> list[Execution]:
        """Executions with ids in ``[lo, hi)``."""
        self._flush()
        out = []
        for eid in range(lo, hi):
            opt = self._store.execution(eid)
            if not opt.isDefined():
                continue
            e = opt.get()
            start = e.submissionTime()
            end = e.completionTime()
            end_ms = end.get().getTime() if end.isDefined() else start
            out.append(self._read(eid, start, end_ms))
        return out

    def _read(self, eid: int, start: int, end_ms: int) -> Execution:
        graph = self._store.planGraph(eid)
        values = self._store.executionMetrics(eid)
        ex = Execution(start, end_ms)
        seen: set[int] = set()
        for node in _iter(graph.allNodes()):
            ex.node_names.append(node.name())
            for m in _iter(node.metrics()):
                acc = m.accumulatorId()
                # a cached relation's plan is drawn once per reader: count
                # each accumulator once
                if acc in seen:
                    continue
                seen.add(acc)
                v = values.get(acc)
                if not v.isDefined():
                    continue
                num = parse_value(v.get())
                if num is not None:
                    ex.metrics.append(
                        Metric(node.name(), node.desc(), m.name(), num))
        return ex


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


# --------------------------------------------------------------------------
# aggregation over the executions one span launched
# --------------------------------------------------------------------------

def total(execs: list[Execution], metric: str, node_pred=None) -> float:
    """Sum of ``metric`` over the executions, optionally only on nodes
    whose (name, desc) satisfy ``node_pred``."""
    return sum(m.value for e in execs for m in e.metrics
               if m.name == metric
               and (node_pred is None or node_pred(m.node, m.desc)))


def root_rows(execs: list[Execution]) -> float:
    """Output rows of the top-most counted node of the last execution:
    the rows the span's final action consumed."""
    for e in reversed(execs):
        for m in e.metrics:
            if m.name == "number of output rows":
                return m.value
    return 0.0


def shuffle_mb(execs: list[Execution]) -> float:
    return total(execs, "shuffle bytes written") / 2 ** 20


def spill_mb(execs: list[Execution]) -> float:
    return total(execs, "spill size") / 2 ** 20


def python_s(execs: list[Execution]) -> float:
    return total(execs, "time to run Python workers")


_BAND_JOIN = re.compile(r"Join \[(band_idx#\d+, )?(band_key|bk)#\d+L?\]")


def band_join_rows(execs: list[Execution]) -> float:
    """Rows out of the LSH band self-joins (the candidate pairs): joins
    keyed on the band key whose condition compares doc ids."""
    return total(execs, "number of output rows",
                 lambda n, d: bool(_BAND_JOIN.search(d)) and "doc_id" in d)


def verified_rows(execs: list[Execution]) -> float:
    """Rows out of the joins that apply the exact-Jaccard verify."""
    return total(execs, "number of output rows",
                 lambda n, d: "Join" in n and "array_intersect" in d)


def band_rows(execs: list[Execution]) -> float:
    """Rows out of the one-row-per-band explode."""
    return total(execs, "number of output rows",
                 lambda n, d: n == "Generate"
                 and "named_struct(band_idx" in d)


_WRITE_NODES = ("InsertIntoHadoopFsRelationCommand", "SaveAsV1TableCommand",
                "CreateDataSourceTableAsSelectCommand")


def is_write(e: Execution) -> bool:
    return any(w in n for n in e.node_names for w in _WRITE_NODES)


def union_seconds(execs: list[Execution]) -> float:
    """Wall time covered by the executions' intervals; a save nests its
    insert execution inside its own, so overlaps count once."""
    spans = sorted((e.start_ms, e.end_ms) for e in execs)
    covered, cur_s, cur_e = 0, None, None
    for s, t in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, t
        else:
            cur_e = max(cur_e, t)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered / 1000.0
