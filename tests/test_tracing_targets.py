"""Every function the benchmark's tracer patches must still exist.

``perfbench/tracing.py`` wraps program functions by module and attribute
name. Renaming one breaks only the traced benchmark run; this test makes
the rename fail the unit suite instead. The tracer module is loaded from
its file path and left unmodified."""

import importlib
import importlib.util
import os

import pytest

_TRACING = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "perfbench",
    "tracing.py",
)


def _tracing():
    spec = importlib.util.spec_from_file_location("_perfbench_tracing",
                                                  _TRACING)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_MOD = _tracing()


@pytest.mark.parametrize(
    "modname,attr,name", _MOD.TARGETS, ids=[t[2] for t in _MOD.TARGETS]
)
def test_trace_target_exists(modname, attr, name):
    mod = importlib.import_module(modname)
    if "." in attr:
        cls_name, meth = attr.split(".")
        cls = getattr(mod, cls_name)
        assert meth in cls.__dict__, f"{modname}.{attr} is gone"
        assert callable(cls.__dict__[meth])
    else:
        assert callable(getattr(mod, attr, None)), f"{modname}.{attr} is gone"


def test_fastpath_spans_are_traced():
    names = {name for _, _, name in _MOD.TARGETS}
    assert set(_MOD.FASTPATH) <= names
