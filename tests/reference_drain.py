"""Load the reference's Drain module standalone for parity testing.

The reference package doesn't import under py3.11 (mutable dataclass
defaults in its data_model), so we exec only its drain.py with its small
import surface stubbed. Used strictly as a test oracle — none of its code is
shipped in logai_spark.
"""

from __future__ import annotations

import importlib.util
import sys
import types

import pytest

from tests.conftest import requires_reference

REF_DRAIN = "/root/reference/logai/algorithms/parsing_algo/drain.py"


def load_reference_drain():
    def stub(name, **attrs):
        m = types.ModuleType(name)
        for k, v in attrs.items():
            setattr(m, k, v)
        sys.modules.setdefault(name, m)
        return sys.modules[name]

    class ParsingAlgo:
        pass

    class Config:
        @classmethod
        def from_dict(cls, d):
            return cls(**d)

    class _Factory:
        def register(self, *a, **k):
            def deco(c):
                return c

            return deco

    stub("logai")
    stub("logai.algorithms")
    stub("logai.algorithms.algo_interfaces", ParsingAlgo=ParsingAlgo)
    stub("logai.config_interfaces", Config=Config)
    stub("logai.algorithms.factory", factory=_Factory())
    try:
        import cachetools  # noqa: F401
    except ImportError:
        # faithful LRUCache semantics (what drain.py relies on):
        # __getitem__ refreshes recency, __setitem__ inserts + evicts LRU,
        # Cache.__getitem__ (used via .get) reads WITHOUT refreshing.
        from collections import OrderedDict

        class Cache(OrderedDict):
            def __getitem__(self, key):
                if key not in self:
                    return self.__missing__(key)
                return OrderedDict.__getitem__(self, key)

            def __missing__(self, key):
                raise KeyError(key)

        class LRUCache(Cache):
            def __init__(self, maxsize):
                super().__init__()
                self.maxsize = maxsize

            def __getitem__(self, key):
                if key not in self:
                    return self.__missing__(key)
                self.move_to_end(key)
                return OrderedDict.__getitem__(self, key)

            def __setitem__(self, key, value):
                OrderedDict.__setitem__(self, key, value)
                self.move_to_end(key)
                while len(self) > self.maxsize:
                    self.popitem(last=False)

        stub("cachetools", LRUCache=LRUCache, Cache=Cache)

    spec = importlib.util.spec_from_file_location("refdrain", REF_DRAIN)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# name: (reference raw-log file, field separator, index of the body field)
FIXTURES = {
    "healthapp": ("/root/reference/tests/logai/test_data/HealthApp_2000.log", "|", 3),
    "hdfs": ("/root/reference/tests/logai/test_data/HDFS_5000.log", " ", 4),
    "bgl": ("/root/reference/tests/logai/test_data/BGL_2000.log", " ", 6),
}


def fixture_params() -> list:
    """One pytest parameter per reference fixture, each gated on its file."""
    return [
        pytest.param(name, marks=requires_reference(path))
        for name, (path, _, _) in FIXTURES.items()
    ]


def fixture_lines(name: str) -> list[str]:
    """Body column of a reference raw-log fixture (parity tests only; the
    property tests read tests/synth_logs.py)."""
    path, sep, n = FIXTURES[name]
    out = []
    with open(path, errors="replace") as f:
        for ln in f:
            parts = ln.rstrip("\n").split(sep, n)
            if len(parts) == n + 1:
                out.append(parts[n])
    return out
