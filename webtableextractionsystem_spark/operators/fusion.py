"""Entity fusion (A6): merge per-(name,url) property bags across documents.

Reproduces the effective upsert semantics of the reference's Neo4j sink
(__createNodeWithEntityList + fusionNode,
/root/reference/src/knowledgeStorage/peronGraph.py:32-88) as a
deterministic, distributed merge — the reference's behavior depends on DB
arrival order; here the order is pinned to (doc_id, seq).

Effective reference semantics reproduced:

* names ending 氏: the reference matches an existing node and calls
  ``create`` on the match (no-op) or on None (exception, swallowed) —
  so 氏-entities NEVER create or modify nodes; they are dropped.
* url-less entity: merge into the first existing node of that name
  (first-wins property union), else create a url-less node.
* url-bearing entity: exact (name,url) node -> merge; else if the first
  node of that name has a url and the urls contain one another -> merge;
  if that node is url-less the reference raises TypeError on ``in`` and
  swallows it -> entity dropped; else create a new node.
* property union keeps existing values (fusionNode: only absent keys
  are added).

Scale: one hash exchange on name plus a sort within partitions by
(name, doc_id, seq) — the same exchange and sort ``groupBy(name)`` plans.
A single ``mapInArrow`` fold then walks each partition once in arrival
order and emits a name's nodes when the next name starts, so a task
holds one name's nodes plus one Arrow batch, never one name's mentions:
a viral name with hundreds of thousands of mentions costs memory in its
distinct urls only.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import ENTITY
from .extraction import arrow_map

FUSED = T.StructType(
    list(ENTITY.fields) + [T.StructField("n_sources", T.IntegerType())]
)


def _add(nodes: list, by_url: dict, url: str | None, bag) -> None:
    """One mention of the current name. ``nodes`` holds its nodes in
    creation order, each ``[url|None, props, n]``; ``by_url`` indexes
    them by url, which is exact: a url-bearing node is only created when
    no node has its url, and only ``nodes[0]`` can be url-less."""
    url = url or ""
    if url == "" or url.isspace():
        url, node = None, nodes[0] if nodes else None
    else:
        node = by_url.get(url)
        if node is None and nodes:
            first = nodes[0][0]
            if first is None:
                return  # reference TypeError-swallow: entity dropped
            if first in url or url in first:
                node = nodes[0]
    if node is None:
        node = by_url[url] = [url, {}, 0]
        nodes.append(node)
    props = node[1]
    for k, v in bag:
        if k not in props:
            props[k] = v
    node[2] += 1


def _rows(name: str, nodes: list) -> list[dict]:
    return [{"name": name, "url": url or "", "props": props, "n_sources": n}
            for url, props, n in nodes]


def _pylist(arr: pa.Array) -> list:
    return arr.to_numpy(zero_copy_only=False).tolist()


def fuse_batches(batches):
    """The fold over (name, url, props) batches sorted by (name, doc_id,
    seq): yields the fused node rows of every name completed so far, one
    list per input batch that completes a name."""
    name, nodes, by_url = None, [], {}
    for batch in batches:
        names = _pylist(batch.column("name"))
        urls = _pylist(batch.column("url"))
        props = batch.column("props")
        valid = _pylist(props.is_valid())
        # offsets index the map's unsliced keys/items, also for a slice
        offs = props.offsets.to_numpy().tolist()
        lo, hi = offs[0], offs[-1]
        keys = _pylist(props.keys.slice(lo, hi - lo))
        items = _pylist(props.items.slice(lo, hi - lo))
        done: list[dict] = []
        for i, mention_name in enumerate(names):
            if mention_name != name:
                done += _rows(name, nodes)
                name, nodes, by_url = mention_name, [], {}
            a, b = offs[i] - lo, offs[i + 1] - lo
            _add(nodes, by_url, urls[i],
                 zip(keys[a:b], items[a:b]) if valid[i] else ())
        if done:
            yield done
    if nodes:
        yield _rows(name, nodes)


def fuse_entities(entities: DataFrame) -> DataFrame:
    """entities(doc_id, seq, name, url, props) -> fused nodes."""
    return arrow_map(
        entities.where(~F.col("name").endswith("氏"))
        .select("name", "url", "props", "doc_id", "seq")
        .repartition("name")
        .sortWithinPartitions("name", "doc_id", "seq")
        .select("name", "url", "props"),
        fuse_batches, FUSED)
