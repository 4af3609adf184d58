"""No function in ``crawlfe`` loads a global its module does not define.

Importing a package only runs module bodies; a kept function that calls
a deleted helper fails only when it runs. This walks the bytecode of
every function and method each ``crawlfe`` module defines (nested code
objects included) and checks each ``LOAD_GLOBAL`` name against the
module namespace and ``builtins``.
"""

from __future__ import annotations

import builtins
import dis
import importlib
import pkgutil
import types

import crawlfe

# (module, function, name) loads that are deliberate: an optional
# import guarded by a flag set at import time.
ALLOWED = frozenset({("crawlfe.media", "decode_media", "PIL")})


def _code_roots(obj):
    if isinstance(obj, (staticmethod, classmethod)):
        obj = obj.__func__
    if isinstance(obj, types.FunctionType):
        return [obj.__code__]
    return []


def _nested(code):
    yield code
    for c in code.co_consts:
        if isinstance(c, types.CodeType):
            yield from _nested(c)


def _undefined_loads(mod):
    ns = vars(mod)
    objs = []
    for v in ns.values():
        objs.append(v)
        if isinstance(v, type) and v.__module__ == mod.__name__:
            objs.extend(vars(v).values())
    out = set()
    for obj in objs:
        for root in _code_roots(obj):
            for code in _nested(root):
                # generated code (dataclass __init__, reprlib wrappers)
                # and functions imported from other modules are skipped
                if code.co_filename != mod.__file__:
                    continue
                for ins in dis.get_instructions(code):
                    name = ins.argval
                    if (ins.opname == "LOAD_GLOBAL" and name not in ns
                            and not hasattr(builtins, name)):
                        out.add((mod.__name__, code.co_name, name))
    return out


def test_no_function_loads_an_undefined_global():
    found = set()
    for info in pkgutil.walk_packages(crawlfe.__path__, "crawlfe."):
        found |= _undefined_loads(importlib.import_module(info.name))
    assert sorted(found - ALLOWED) == []
