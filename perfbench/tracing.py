"""Layer spans recorded from outside the engine, plus /proc accounting.

A span is (name, layer, start, end, parent, run id, job counter at start
and end).  Spans stay in memory; `Tracer.dump` writes them out.  Layer
wrappers are installed by rebinding every module global that holds a
traced function, because query, pipeline and streaming modules import
operator functions by name; `uninstall` restores the originals.  Spans
begun on another thread (a streaming query's foreachBatch callback)
nest under the span that is open while the caller waits for it.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import sys
import time

PKG = "rick_and_morty_data_pipeline_project_spark"
_CLK = os.sysconf("SC_CLK_TCK")


class Tracer:
    def __init__(self, spark):
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.run = None

    def jobs(self) -> int:
        return self._dag.nextJobId()

    def begin(self, name: str, layer: str) -> int:
        i = len(self.spans)
        self.spans.append(
            {
                "name": name,
                "layer": layer,
                "run": self.run,
                "parent": self._stack[-1] if self._stack else None,
                "start": time.perf_counter(),
                "jobs0": self.jobs(),
            }
        )
        self._stack.append(i)
        return i

    def end(self, i: int) -> None:
        s = self.spans[i]
        s["jobs1"] = self.jobs()
        s["end"] = time.perf_counter()
        self._stack.pop()

    def unwind(self) -> None:
        """Closes the spans an exception left open."""
        while self._stack:
            self.end(self._stack[-1])

    def call(self, name: str, layer: str, fn, *args, **kwargs):
        i = self.begin(name, layer)
        try:
            return fn(*args, **kwargs)
        finally:
            self.end(i)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class _Traced:
    """Callable stand-in for a traced function.  Pickles as the original
    (looked up by dotted path), so a UDF closure that captured it ships
    the plain function to Python workers."""

    def __init__(self, fn, tracer: Tracer, name: str, layer: str):
        functools.update_wrapper(self, fn)
        self._fn, self._tracer, self._name, self._layer = fn, tracer, name, layer

    def __call__(self, *args, **kwargs):
        return self._tracer.call(self._name, self._layer, self._fn, *args, **kwargs)

    def __reduce__(self):
        import pydoc

        return pydoc.locate, (f"{self._fn.__module__}.{self._fn.__qualname__}",)


def _public_functions(module) -> list:
    return [
        f
        for n, f in vars(module).items()
        if not n.startswith("_")
        and inspect.isfunction(f)
        and f.__module__ == module.__name__
    ]


def operator_targets() -> dict:
    """{function: (span name, layer)} for every public function of
    operators/*.py, importing each operator module."""
    import importlib
    import pkgutil

    ops = importlib.import_module(f"{PKG}.operators")
    targets = {}
    for info in pkgutil.iter_modules(ops.__path__):
        mod = importlib.import_module(f"{ops.__name__}.{info.name}")
        for f in _public_functions(mod):
            targets[f] = (f"operators.{f.__name__}", "operators")
    return targets


def install(tracer: Tracer) -> list[tuple[dict, str, object]]:
    """Wraps sources.corpus.load_table and every public function of
    operators/*.py wherever a loaded package module binds it.  Returns
    the undo list for `uninstall`."""
    targets = operator_targets()
    corpus = sys.modules[f"{PKG}.sources.corpus"]
    targets[corpus.load_table] = ("sources.load_table", "sources")
    undo = []
    for mname, mod in list(sys.modules.items()):
        if not mname.startswith(PKG) or mod is None:
            continue
        g = vars(mod)
        for k, v in list(g.items()):
            if inspect.isfunction(v) and v in targets:
                name, layer = targets[v]
                undo.append((g, k, v))
                g[k] = _Traced(v, tracer, name, layer)
    return undo


def uninstall(undo) -> None:
    for g, k, v in undo:
        g[k] = v


def _stat(pid: int):
    try:
        with open(f"/proc/{pid}/stat") as f:
            rest = f.read().rsplit(")", 1)[1].split()
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:  # the process exited while being read
        return None
    # fields after the command name: state ppid ... utime(12) stime cutime cstime
    return int(rest[1]), [int(x) for x in rest[11:15]], cmd


def process_tree(root: int) -> dict[int, tuple]:
    """{pid: (ppid, [utime, stime, cutime, cstime], cmdline)} for `root`
    and all its descendants."""
    procs = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            st = _stat(int(p))
            if st is not None:
                procs[int(p)] = st
    tree, frontier = {}, [root]
    while frontier:
        pid = frontier.pop()
        if pid in procs:
            tree[pid] = procs[pid]
            frontier.extend(c for c, v in procs.items() if v[0] == pid)
    return tree


def classify(tree: dict[int, tuple]) -> dict[str, list[int]]:
    """Splits a tree into the engine JVM and the PySpark Python workers
    (the `pyspark.daemon` process and the workers it forks)."""
    jvm = [p for p, v in tree.items() if v[2].split(b"\0")[0].endswith(b"/java")]
    daemons = [p for p, v in tree.items() if b"pyspark.daemon" in v[2]]
    workers = set(daemons)
    for p, v in tree.items():
        if v[0] in workers:
            workers.add(p)
    return {"jvm": jvm, "python": sorted(workers)}


def cpu_seconds(root: int) -> dict[str, float]:
    """CPU seconds used so far by the JVM and by the Python workers.  A
    reaped worker's time is in the daemon's cutime/cstime, so counting
    those keeps the Python total monotone; the JVM's are left out, as
    they would hold the daemon's own time once it exits."""
    tree = process_tree(root)
    groups = classify(tree)
    jvm = sum(sum(tree[p][1][:2]) for p in groups["jvm"])
    py = sum(sum(tree[p][1]) for p in groups["python"])
    return {"jvm": jvm / _CLK, "python": py / _CLK}


def rss_bytes(root: int) -> int:
    """Resident memory of the JVM and Python workers under `root`."""
    tree = process_tree(root)
    total = 0
    for group in classify(tree).values():
        for p in group:
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
            except OSError:
                pass
    return total
