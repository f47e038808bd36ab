"""Hot-loaded Python-module scoring functions (SURVEY.md §2.1 S8).

The reference demo scans a ``custom_functions/`` directory for ``.py`` files,
imports each module, and collects every module-level callable whose signature
is ``(values, stats)`` or ``(values)`` as a user scoring function
(reference ``demos/streamlit_demo.py:56-86``).

Here the same contract feeds :class:`~bid_evaluation_spark.CustomCriterion`:
each loaded function is a pandas-native ``(pd.Series, stats_dict) -> pd.Series``
kernel that the engine runs in its grouped Arrow step (per tender), so a
hot-loaded file behaves identically on a 1000-executor cluster (the closure is
pickled to executors; no driver-side loop).
"""

from __future__ import annotations

import importlib.util
import inspect
from pathlib import Path
from typing import Callable, Dict


def _wrap_single_arg(fn: Callable) -> Callable:
    """Adapt a ``(values)``-only function to the ``(values, stats)`` contract."""

    def wrapped(values, stats):
        return fn(values)

    wrapped.__name__ = getattr(fn, "__name__", "custom")
    wrapped.__doc__ = fn.__doc__
    return wrapped


def load_module_functions(path: str) -> Dict[str, Callable]:
    """Import one ``.py`` file and return its scoring functions.

    A *scoring function* is any public module-level callable taking exactly
    one or two positional parameters (``values`` / ``values, stats``) —
    signature-sniffed exactly like the reference demo loader.
    """
    p = Path(path)
    spec = importlib.util.spec_from_file_location(p.stem, p)
    if spec is None or spec.loader is None:
        raise ImportError(f"cannot load module from {path}")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)

    found: Dict[str, Callable] = {}
    for attr_name in dir(module):
        if attr_name.startswith("_"):
            continue
        obj = getattr(module, attr_name)
        if not callable(obj) or inspect.isclass(obj):
            continue
        if getattr(obj, "__module__", None) != module.__name__:
            continue  # imported helper (np, pd, ...), not a user function
        try:
            params = [
                prm for prm in inspect.signature(obj).parameters.values()
                if prm.kind in (prm.POSITIONAL_ONLY, prm.POSITIONAL_OR_KEYWORD)
            ]
        except (TypeError, ValueError):
            continue
        if len(params) == 2:
            found[attr_name] = obj
        elif len(params) == 1:
            found[attr_name] = _wrap_single_arg(obj)
    return found


def load_custom_functions(directory: str) -> Dict[str, Callable]:
    """Scan ``directory`` for ``*.py`` and return ``{name: fn}`` of every
    scoring function found, later files winning name collisions (reference
    demo iterates ``sorted(glob)`` and overwrites — same here)."""
    out: Dict[str, Callable] = {}
    d = Path(directory)
    if not d.is_dir():
        return out
    for f in sorted(d.glob("*.py")):
        if f.name.startswith("_"):
            continue
        try:
            out.update(load_module_functions(str(f)))
        except Exception:
            continue  # a broken user file must not take down the loader
    return out
