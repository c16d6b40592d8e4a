"""Source lockstep, asserted.

Every streaming drive reads its staged batch files through
sources/replay.replay_stream, the one place that decides how many
files a trigger takes. A reader built by hand elsewhere lets that
decision drift per drive, so this test fails if any module of the
package other than sources/replay.py sets ``maxFilesPerTrigger``.

Likewise every session-global conf flip goes through
session.scoped_confs, the one save/restore under the drive lock. A
hand-written save (``.conf.get(``) or restore (``.conf.unset(``)
elsewhere in the package or tools/ skips that lock, so the second
test fails on either outside session.py.

And every availableNow drive runs through sources/replay.
run_available_now, the one place that sets the trigger and the
checkpoint location (a temp dir it removes, or the caller's resume
path). The third test fails if any module of the package, tools/ or
tests/ outside replay.py names either. perfbench/ is exempt: the
benchmark is frozen between benchmark changes, and the runner
replaces the checkpoint its drive sets.

Every temp path the package writes comes from session.scratch_path,
under one per-process root removed at exit. The fourth test fails if
any package module other than session.py picks a temp location itself.
Likewise session.get_spark alone decides the JVM classpath and the
``file://`` filesystem class, and session._no_fork_classes alone runs
``javac``: the next test fails if any other module of the package or
tools/ sets ``fs.file.impl`` or ``spark.driver.extraClassPath`` or
invokes ``javac``.

The k-means math has one copy: operators/kmeans.py's ``_decode``,
``_score`` and ``_accumulate``, which every caller reaches through the
pass bodies (``_stats_rows``, ``_reassign_rows`` and friends), on the
driver or in a worker.
The fifth test fails if any other package module calls one of them, so
a second copy of the kernel cannot grow beside a caller. It also fails
on a matrix product in operators/kmeans.py outside ``_score`` (``@``,
``dot``, ``matmul``, ``einsum``) or one there outside the
``_blas_threads`` rule, so every kernel GEMM picks its BLAS threads
by the same size rule.

Whether a kernel pass runs on the driver is decided by one gate,
operators/kmeans._driver_table: one budget (``_DRIVER_ELEMS``), one
bounded collect (``.limit(rows + 1).toArrow()``) and one slot that
keeps the table it last admitted under a weak reference to its
DataFrame, used by every batch fit and by StreamingKMeans through
``_FitInput``. The sixth test fails if any other package module reads
the budget, collects with ``.toArrow(`` or names ``weakref``, or if
the kernel module does any of these outside the gate (a plain
``.toArrow(`` of a pass aside), so a second budget, probe or carrier
of collected rows cannot grow beside it.

A worker runs a kernel pass by one route: operators/kmeans.py's
``_kernel_pass`` plans every ``mapInArrow`` with the one combiner,
``_combiner``, which loads the model from its side file and calls the
pass body. The seventh test fails if any other package module calls
``.mapInArrow(``, if the kernel module calls it outside that planner,
or if more than one of its functions loads the model, so a second
combiner or a hand-planned pass cannot grow beside the route. The
route stays inside that module: a fit or an untracked micro-batch
reaches it through ``_FitInput``, a tracked micro-batch through
``_reassign_pass``, and partials come back through the one fold,
``_fold``. The eighth test fails if any other package module names the
planner, the side file, the fold, a pass schema or a pass body, so a
caller cannot grow a second pass or fold of its own.
"""

from __future__ import annotations

import ast
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "flink_streaming_kmeans_spark")
OWNER = os.path.join("sources", "replay.py")
CONF_OWNER = os.path.join("flink_streaming_kmeans_spark", "session.py")
DRIVE_OWNERS = {
    os.path.join("flink_streaming_kmeans_spark", "sources", "replay.py"),
    os.path.join("tests", "test_source_lockstep.py"),  # holds the needles
}


def _mentions(path: str, *needles: str) -> list[int]:
    with open(path) as f:
        return [
            i for i, line in enumerate(f, 1) if any(n in line for n in needles)
        ]


def test_only_replay_sets_max_files_per_trigger():
    offenders = []
    for root, _, files in os.walk(PKG):
        for name in sorted(files):
            rel = os.path.relpath(os.path.join(root, name), PKG)
            if name.endswith(".py") and rel != OWNER:
                offenders += [
                    f"{rel}:{i}"
                    for i in _mentions(os.path.join(PKG, rel), "maxFilesPerTrigger")
                ]
    assert not offenders, (
        "read staged batches through sources/replay.replay_stream instead "
        f"of setting maxFilesPerTrigger here: {offenders}"
    )
    assert _mentions(os.path.join(PKG, OWNER), "maxFilesPerTrigger"), (
        "replay_stream no longer sets it"
    )


def test_only_session_saves_and_restores_confs():
    offenders = []
    for top in ("flink_streaming_kmeans_spark", "tools"):
        for root, _, files in os.walk(os.path.join(REPO, top)):
            for name in sorted(files):
                rel = os.path.relpath(os.path.join(root, name), REPO)
                if name.endswith(".py") and rel != CONF_OWNER:
                    offenders += [
                        f"{rel}:{i}"
                        for i in _mentions(
                            os.path.join(REPO, rel), ".conf.get(", ".conf.unset("
                        )
                    ]
    assert not offenders, (
        "scope session confs with session.scoped_confs instead of saving "
        f"or restoring them here: {offenders}"
    )
    assert _mentions(os.path.join(REPO, CONF_OWNER), ".conf.get("), (
        "scoped_confs no longer saves confs"
    )


def test_only_replay_starts_drives():
    offenders = []
    for top in ("flink_streaming_kmeans_spark", "tools", "tests"):
        for root, _, files in os.walk(os.path.join(REPO, top)):
            for name in sorted(files):
                rel = os.path.relpath(os.path.join(root, name), REPO)
                if name.endswith(".py") and rel not in DRIVE_OWNERS:
                    offenders += [
                        f"{rel}:{i}"
                        for i in _mentions(
                            os.path.join(REPO, rel),
                            "checkpointLocation",
                            "availableNow=True",
                        )
                    ]
    assert not offenders, (
        "run the drive through sources/replay.run_available_now instead "
        f"of setting its trigger or checkpoint here: {offenders}"
    )


def test_only_session_makes_scratch():
    offenders = []
    for root, _, files in os.walk(PKG):
        for name in sorted(files):
            rel = os.path.relpath(os.path.join(root, name), REPO)
            if name.endswith(".py") and rel != CONF_OWNER:
                offenders += [
                    f"{rel}:{i}"
                    for i in _mentions(
                        os.path.join(REPO, rel),
                        "tempfile",
                        "mkdtemp",
                        "gettempdir",
                        "_tmp_out",
                    )
                ]
    assert not offenders, (
        "take temp paths from session.scratch_path instead of choosing "
        f"them here: {offenders}"
    )
    assert _mentions(os.path.join(REPO, CONF_OWNER), "tempfile.mkdtemp"), (
        "scratch_path no longer makes the root"
    )


def test_only_session_sets_the_filesystem_and_classpath():
    needle = re.compile(r"fs\.file\.impl[\"']|extraClassPath|[\"']javac\b")
    offenders = []
    for top in ("flink_streaming_kmeans_spark", "tools"):
        for root, _, files in os.walk(os.path.join(REPO, top)):
            for name in sorted(files):
                rel = os.path.relpath(os.path.join(root, name), REPO)
                if name.endswith(".py") and rel != CONF_OWNER:
                    with open(os.path.join(REPO, rel)) as f:
                        offenders += [
                            f"{rel}:{i}"
                            for i, line in enumerate(f, 1)
                            if needle.search(line)
                        ]
    assert not offenders, (
        "let session.get_spark set the filesystem class and classpath, and "
        f"session._no_fork_classes compile, instead of doing it here: {offenders}"
    )
    with open(os.path.join(REPO, CONF_OWNER)) as f:
        found = set(needle.findall(f.read()))
    assert found >= {'fs.file.impl"', "extraClassPath", '"javac'}, found


def test_only_the_kernel_calls_its_math():
    owner = os.path.join("flink_streaming_kmeans_spark", "operators", "kmeans.py")
    call = re.compile(r"\b(_decode|_score|_accumulate)\(")
    offenders = []
    for root, _, files in os.walk(PKG):
        for name in sorted(files):
            rel = os.path.relpath(os.path.join(root, name), REPO)
            if name.endswith(".py") and rel != owner:
                with open(os.path.join(REPO, rel)) as f:
                    offenders += [
                        f"{rel}:{i}" for i, line in enumerate(f, 1) if call.search(line)
                    ]
    assert not offenders, (
        "reach the k-means math through operators/kmeans.py (_FitInput, "
        f"_reassign_pass) instead of calling its kernel here: {offenders}"
    )
    with open(os.path.join(REPO, owner)) as f:
        source = f.read()
    assert call.search(source), "the kernel no longer defines its math"
    gemms = _gemms(ast.parse(source))
    assert [fn for _, fn, _ in gemms] == ["_score"], (
        f"the kernel's one GEMM is _score's; found (line, function): {gemms}"
    )
    assert all(ruled for *_, ruled in gemms), (
        f"_score's GEMM must run inside `with _blas_threads(...)`: {gemms}"
    )


def _gemms(tree):
    """(line, enclosing top-level function, inside a ``_blas_threads``
    ``with``) of every matrix product in a module: the ``@`` operator or
    a ``dot``/``matmul``/``einsum`` call."""
    found = []

    def visit(node, fn, ruled):
        if isinstance(node, ast.With):
            ruled = ruled or any(
                isinstance(i.context_expr, ast.Call)
                and getattr(i.context_expr.func, "id", None) == "_blas_threads"
                for i in node.items
            )
        gemm = (
            isinstance(node, (ast.BinOp, ast.AugAssign))
            and isinstance(node.op, ast.MatMult)
        ) or (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("dot", "matmul", "einsum")
        )
        if gemm:
            found.append((node.lineno, fn, ruled))
        for child in ast.iter_child_nodes(node):
            visit(child, fn, ruled)

    for top in tree.body:
        fn = top.name if isinstance(top, (ast.FunctionDef, ast.ClassDef)) else None
        visit(top, fn, False)
    return found


def _gate_uses(tree):
    """(line, what, enclosing top-level function) of every read of
    ``_DRIVER_ELEMS``, every ``.toArrow(`` call and every name of the
    ``weakref`` module in a module."""
    uses = []
    for top in tree.body:
        fn = top.name if isinstance(top, (ast.FunctionDef, ast.ClassDef)) else None
        for node in ast.walk(top):
            if (
                (isinstance(node, ast.Name) and node.id == "weakref")
                or (isinstance(node, ast.alias) and node.name == "weakref")
                or (isinstance(node, ast.ImportFrom) and node.module == "weakref")
            ):
                uses.append((node.lineno, "weakref", fn))
            elif isinstance(node, ast.Name) and node.id == "_DRIVER_ELEMS":
                if isinstance(node.ctx, ast.Load):
                    uses.append((node.lineno, "budget", fn))
            elif isinstance(node, ast.Attribute) and node.attr == "_DRIVER_ELEMS":
                uses.append((node.lineno, "budget", fn))
            elif isinstance(node, ast.alias) and node.name == "_DRIVER_ELEMS":
                uses.append((top.lineno, "budget", fn))
            elif (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "toArrow"
            ):
                recv = node.func.value
                bounded = (
                    isinstance(recv, ast.Call)
                    and isinstance(recv.func, ast.Attribute)
                    and recv.func.attr == "limit"
                )
                what = "bounded collect" if bounded else "collect"
                uses.append((node.lineno, what, fn))
    return uses


def test_one_driver_gate():
    owner = os.path.join("flink_streaming_kmeans_spark", "operators", "kmeans.py")
    offenders, gate = [], []
    for root, _, files in os.walk(PKG):
        for name in sorted(files):
            rel = os.path.relpath(os.path.join(root, name), REPO)
            if not name.endswith(".py"):
                continue
            with open(os.path.join(REPO, rel)) as f:
                uses = _gate_uses(ast.parse(f.read()))
            for line, what, fn in uses:
                if rel != owner:
                    offenders.append(f"{rel}:{line} {what}")
                elif fn == "_driver_table":
                    gate.append(what)
                elif what != "collect":
                    offenders.append(f"{rel}:{line} {what} in {fn}")
    assert not offenders, (
        "size kernel inputs through operators/kmeans._driver_table instead of "
        f"reading the budget, collecting them or keeping their rows here: {offenders}"
    )
    assert {"budget", "bounded collect", "weakref"} <= set(gate), (
        f"the gate no longer reads the budget, collects and keeps its table: {gate}"
    )


def _calls_by_function(tree, match):
    """(line, innermost enclosing function) of every call in a module
    for which ``match(call.func)`` holds; None outside any function."""
    found = []

    def visit(node, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        elif isinstance(node, ast.Call) and match(node.func):
            found.append((node.lineno, fn))
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(tree, None)
    return found


def test_one_kernel_pass_route():
    owner = os.path.join("flink_streaming_kmeans_spark", "operators", "kmeans.py")

    def map_in_arrow(f):
        return isinstance(f, ast.Attribute) and f.attr == "mapInArrow"

    def load_model(f):
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
        return name == "_load_model"

    offenders = []
    for root, _, files in os.walk(PKG):
        for name in sorted(files):
            rel = os.path.relpath(os.path.join(root, name), REPO)
            if name.endswith(".py") and rel != owner:
                with open(os.path.join(REPO, rel)) as f:
                    tree = ast.parse(f.read())
                offenders += [
                    f"{rel}:{line}" for line, _ in _calls_by_function(tree, map_in_arrow)
                ]
    with open(os.path.join(REPO, owner)) as f:
        tree = ast.parse(f.read())
    planners = _calls_by_function(tree, map_in_arrow)
    offenders += [
        f"{owner}:{line} in {fn}" for line, fn in planners if fn != "_kernel_pass"
    ]
    assert not offenders, (
        "plan worker passes through operators/kmeans._kernel_pass instead of "
        f"calling mapInArrow here: {offenders}"
    )
    assert planners, "the planner no longer calls mapInArrow"
    loaders = sorted({fn for _, fn in _calls_by_function(tree, load_model)})
    assert len(loaders) == 1, (
        f"one combiner loads the model, not {loaders}: run a pass body "
        "through operators/kmeans._combiner"
    )


def test_kernel_passes_stay_in_the_kernel_module():
    owner = os.path.join("flink_streaming_kmeans_spark", "operators", "kmeans.py")
    with open(os.path.join(REPO, owner)) as f:
        tree = ast.parse(f.read())
    bodies = {
        node.name
        for node in tree.body
        if isinstance(node, ast.FunctionDef) and node.name.endswith("_rows")
    }
    assert {"_stats_rows", "_reassign_rows"} <= bodies, bodies
    private = {"_kernel_pass", "_ModelFile", "_fold", "_DELTA_SCHEMA", "_STATS_SCHEMA"}
    private |= bodies

    def named(node):
        if isinstance(node, ast.Name):
            return node.id
        if isinstance(node, ast.Attribute):
            return node.attr
        if isinstance(node, ast.alias):
            return node.name
        return None

    offenders = []
    for root, _, files in os.walk(PKG):
        for name in sorted(files):
            rel = os.path.relpath(os.path.join(root, name), REPO)
            if name.endswith(".py") and rel != owner:
                with open(os.path.join(REPO, rel)) as f:
                    offenders += [
                        f"{rel}:{getattr(node, 'lineno', '?')} {named(node)}"
                        for node in ast.walk(ast.parse(f.read()))
                        if named(node) in private
                    ]
    assert not offenders, (
        "run kernel passes through operators/kmeans._FitInput or "
        f"_reassign_pass instead of naming the pass machinery here: {offenders}"
    )
