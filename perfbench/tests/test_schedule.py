"""The same seed gives a byte-identical op sequence; another seed does not."""

import itertools
import json

import pytest

import harness as H
import wl_dedup_extend
import wl_deep_log
from wl_dedup_extend import DedupExtend, make_corpus
from wl_deep_log import DeepLog
from wl_ingest import Ingest


@pytest.fixture(autouse=True)
def small_sizes(monkeypatch):
    monkeypatch.setattr(wl_dedup_extend, "N_DOCS", 200)
    monkeypatch.setattr(wl_deep_log, "N_COMMITS", 500)
    monkeypatch.setattr(wl_deep_log, "N_PARTS", 40)


def _ops(wl, n):
    return json.dumps([list(op) for op in itertools.islice(wl.schedule(), n)]).encode()


def _dedup(seed):
    wl = DedupExtend(H.Ctx(seed, "/nonexistent"))
    wl.corpus = make_corpus(seed)
    return wl


def test_same_seed_same_bytes():
    for make in (lambda s: DeepLog(H.Ctx(s, "/nonexistent")),
                 lambda s: Ingest(H.Ctx(s, "/nonexistent")),
                 _dedup):
        a, b, c = _ops(make(7), 300), _ops(make(7), 300), _ops(make(8), 300)
        assert a == b
        assert a != c


def test_cycles_end_on_boundaries():
    for wl, kinds in ((Ingest(H.Ctx(1, "/x")), {"vacuum"}),
                      (_dedup(1), {"full"})):
        ops = list(itertools.islice(wl.schedule(), 200))
        assert {op.kind for op in ops if op.boundary} == kinds
    deep = list(itertools.islice(
        DeepLog(H.Ctx(1, "/x")).schedule(), 200))
    assert [i for i, op in enumerate(deep) if op.boundary][:3] == [19, 39, 59]


def test_corpus_is_seeded():
    assert make_corpus(3) == make_corpus(3)
    assert make_corpus(3) != make_corpus(4)
