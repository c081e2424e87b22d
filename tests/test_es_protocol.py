"""The ES-protocol client shared by the Quickwit and Elasticsearch
connectors: a collection read pages the whole scroll, and each service
receives its own wire dialect — verb, scroll keep-alive token, where
``_source`` narrowing goes, and the body of the DELETE that frees the
scroll context."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(__file__))

from search_stubs import ElasticStub, QuickwitStub  # noqa: E402

from miso_spark.sources import SourceRegistry  # noqa: E402
from miso_spark.sources.external import (  # noqa: E402
    ElasticsearchSource,
    QuickwitSource,
)


@pytest.mark.parametrize(
    "stub_cls,src_cls",
    [(ElasticStub, ElasticsearchSource), (QuickwitStub, QuickwitSource)],
)
def test_registry_table_reads_every_doc(spark, stub_cls, src_cls):
    """More docs than one page: the default page (5 000) holds them
    all, a 400-doc page needs four scroll rounds; both return every
    doc."""
    stub = stub_cls({"logs": [{"m": i} for i in range(1500)]})
    try:
        for kwargs in ({}, {"scroll_size": 400}):
            reg = SourceRegistry(spark).register("c", src_cls(stub.url, **kwargs))
            got = sorted(r["m"] for r in reg.table("c", "logs").collect())
            assert got == list(range(1500))
    finally:
        stub.shutdown()


_QW_SEARCH = "/api/v1/_elastic/logs/_search?_source_includes=level,m&scroll=30000ms&size=2"
_QW_SCROLL = "/api/v1/_elastic/_search/scroll"
_ES_SEARCH = "/logs/_search?scroll=30s&size=2"
_ES_INCLUDES = {"_source": ["level", "m"]}

#: flavor → (limited search requests, full search requests)
_DIALECT = {
    # GET with a JSON body; keep-alive in millis; includes in the URL;
    # the handle's size stays in the body; DELETE sends the bare id
    "quickwit": (
        [
            ("GET", _QW_SEARCH, {"size": 5}),
            ("DELETE", _QW_SCROLL, {"scroll_id": "scroll-1"}),
        ],
        [("GET", _QW_SEARCH, None)]
        + [("GET", _QW_SCROLL, {"scroll": "30000ms", "scroll_id": "scroll-2"})] * 4
        + [("DELETE", _QW_SCROLL, {"scroll_id": "scroll-2"})],
    ),
    # POST; keep-alive in seconds; includes as a body _source list;
    # size only in the URL; DELETE sends the id in a list
    "elasticsearch": (
        [("POST", _ES_SEARCH, _ES_INCLUDES)]
        + [("POST", "/_search/scroll", {"scroll": "30s", "scroll_id": "scroll-1"})] * 2
        + [("DELETE", "/_search/scroll", {"scroll_id": ["scroll-1"]})],
        [("POST", _ES_SEARCH, _ES_INCLUDES)]
        + [("POST", "/_search/scroll", {"scroll": "30s", "scroll_id": "scroll-2"})] * 4
        + [("DELETE", "/_search/scroll", {"scroll_id": ["scroll-2"]})],
    ),
}


@pytest.mark.parametrize("flavor", sorted(_DIALECT))
def test_scroll_wire_dialect(spark, flavor):
    """A narrowed scroll with 2-doc pages over 7 docs, once limited to
    5 rows and once in full: the exact requests each service gets."""
    stub_cls, src_cls = {
        "quickwit": (QuickwitStub, QuickwitSource),
        "elasticsearch": (ElasticStub, ElasticsearchSource),
    }[flavor]
    stub = stub_cls({"logs": [{"m": i, "level": "x", "msg": "y"} for i in range(7)]})
    try:
        src = src_cls(stub.url, scroll_size=2)
        narrowed = src.handle("logs").narrow_source(["m", "level"])
        limited = src.search(spark, "logs", narrowed.apply_limit(5)).collect()
        full = src.search(spark, "logs", narrowed).collect()
        assert len(limited) == 5 and len(full) == 7
        assert {tuple(sorted(r.asDict())) for r in full} == {("level", "m")}
        want_limited, want_full = _DIALECT[flavor]
        assert stub.requests == want_limited + want_full
    finally:
        stub.shutdown()
