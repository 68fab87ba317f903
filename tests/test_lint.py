"""Static-health checks standing in for a linter (pyflakes/ruff are not
in the container).

Every module under ``from __future__ import annotations`` keeps its
annotations as strings, so a missing ``typing`` import is invisible until
someone calls ``typing.get_type_hints`` — this test does exactly that for
every public function/class in the package, turning the latent NameError
into a CI failure (caught two real ones: ``pipeline/dedup.py`` and
``testing/promqltest.py`` used ``Optional`` without importing it).
"""

from __future__ import annotations

import importlib
import inspect
import pkgutil
import typing

import prometheus_spark


def _walk_modules():
    for mi in pkgutil.walk_packages(prometheus_spark.__path__, "prometheus_spark."):
        yield importlib.import_module(mi.name)


def test_all_modules_import():
    mods = list(_walk_modules())
    assert len(mods) > 30  # the package is large; a collapse here = broken walk


def _type_checking_names(mod) -> set[str]:
    """Names imported only under ``if TYPE_CHECKING:`` — valid annotation
    targets with ``from __future__ import annotations`` even though they are
    absent at runtime, so the resolver below must not flag them."""
    import ast
    import inspect as _inspect

    try:
        src = _inspect.getsource(mod)
    except (OSError, TypeError):
        return set()
    names: set[str] = set()
    try:
        tree = ast.parse(src)
    except SyntaxError:
        return set()
    for node in ast.walk(tree):
        if not isinstance(node, ast.If):
            continue
        test = node.test
        is_tc = (isinstance(test, ast.Name) and test.id == "TYPE_CHECKING") or (
            isinstance(test, ast.Attribute) and test.attr == "TYPE_CHECKING"
        )
        if not is_tc:
            continue
        for stmt in ast.walk(node):
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                for alias in stmt.names:
                    names.add(alias.asname or alias.name.split(".")[0])
    return names


def test_annotations_resolve():
    failures = []
    for mod in _walk_modules():
        tc_names = _type_checking_names(mod)
        # Resolve against module globals augmented with typing names and
        # placeholders for TYPE_CHECKING-only imports, so the check targets
        # genuinely missing runtime imports only.
        globalns = {**vars(typing), **vars(mod)}
        for n in tc_names:
            globalns.setdefault(n, typing.Any)
        for name, obj in list(vars(mod).items()):
            if not (inspect.isfunction(obj) or inspect.isclass(obj)):
                continue
            if getattr(obj, "__module__", None) != mod.__name__:
                continue  # re-exports are checked in their home module
            try:
                typing.get_type_hints(obj, globalns=globalns)
            except NameError as exc:  # missing runtime import
                failures.append(f"{mod.__name__}.{name}: {exc!r}")
            except Exception:
                # Unrelated resolution noise (e.g. stringified non-type
                # expressions) is not this test's concern.
                continue
    assert not failures, "\n".join(failures)


# Every PROMSPARK_* environment variable the package reads, with why it
# stays a runtime switch rather than a module constant.  A new knob needs
# a deliberate entry here.
_ENV_KNOBS = {
    # tests and tools/corpus_sweep.py force each route across process
    # boundaries (parity sweeps)
    "PROMSPARK_PREFIX_RANGE_THRESHOLD": "prefix/as-of route cutoff, forced by parity tests",
    "PROMSPARK_HIST_ASOF_THRESHOLD": "histogram as-of route cutoff, forced by parity tests",
    # driver-side Python GC pacing for long-lived servers (pygc.py)
    "PROMSPARK_GC_EVERY": "collect every N rule evaluations",
    "PROMSPARK_GC_DEBUG": "log each paced collection",
}


def test_env_knobs_allow_listed():
    import re
    from pathlib import Path

    root = Path(prometheus_spark.__file__).parent
    found = set()
    for path in root.rglob("*.py"):
        found |= set(re.findall(r"PROMSPARK_[A-Z0-9_]+", path.read_text()))
    assert found == set(_ENV_KNOBS), (
        sorted(found - set(_ENV_KNOBS)), sorted(set(_ENV_KNOBS) - found)
    )


# The route choice for a range function over a matrix selector lives in
# range_functions.eval_matrix_range: the thresholds it reads and the
# kernels it picks are called from nowhere else in the package.
_ROUTE_CALLS = (
    "prefix_threshold", "hist_asof_threshold",
    "_prefix_fold", "_extended_fold", "_des_fold", "window_rate_asof",
)


def test_route_decision_in_one_module():
    import re
    from pathlib import Path

    root = Path(prometheus_spark.__file__).parent
    call = re.compile(
        r"(?<!def )\b(" + "|".join(_ROUTE_CALLS) + r")\("
    )
    found = []
    for path in root.rglob("*.py"):
        if path.name == "range_functions.py":
            continue
        for i, line in enumerate(path.read_text().splitlines(), 1):
            for m in call.finditer(line):
                found.append(f"{path.relative_to(root)}:{i}: {m.group(1)}")
    assert not found, found
