"""Multi-index registry: named indexes, aliases, cross-index search.

Reference surfaces re-expressed:
- index aliases (``cluster/metadata/AliasMetadata.java``, the `_aliases`
  API): an alias names one or more concrete indexes; reads fan out to
  every index behind the alias.
- multi-index / wildcard targets (``action/support/IndexNameExpression
  Resolver.java``): `_search` over ``logs-*`` or ``a,b,c`` resolves to
  the matching concrete indexes.
- `_mget` / document GET (``action/get/TransportGetAction.java``): fetch
  by docId with found/missing flags.

Spark shape: each index is a SearchEngine over its own parquet index
tables. A cross-index search compiles ONE plan — the per-index top-k
frames (each already a pruned per-segment scorer) are unioned with an
``_index`` literal column and reduced by a single global
TakeOrderedAndProject, exactly the reference's cross-shard reduce one
level up. No per-index collect, one Spark job.
"""

from __future__ import annotations

import fnmatch
from typing import Dict, List, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F


class Cluster:
    """Registry of named indexes + aliases (a coordinator-node facade)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.engines: Dict[str, object] = {}
        self.aliases: Dict[str, List[str]] = {}
        self.templates: Dict[str, dict] = {}
        self.data_streams: Dict[str, List[str]] = {}

    # ---- index / alias management ------------------------------------

    def register(self, name: str, engine) -> None:
        if name in self.aliases:
            raise ValueError(f"index name {name!r} collides with an alias")
        if name in self.data_streams:
            raise ValueError(
                f"index name {name!r} collides with a data stream")
        self.engines[name] = engine

    def create_index(self, name: str, corpus: DataFrame, index_dir: str,
                     **build_kw) -> object:
        """Build an index over ``corpus`` and register it."""
        from opensearch_spark.index.build import build_index
        from opensearch_spark.search.engine import SearchEngine

        build_kw = {**self._template_defaults(name), **build_kw}
        eng_kw = {
            k: build_kw.get(k)
            for k in ("text_field", "doc_id_col")
            if k in build_kw
        }
        bk = dict(build_kw)
        if "text_field" in bk:
            bk["text_col"] = bk.pop("text_field")
        build_index(self.spark, corpus, index_dir, **bk)
        eng = SearchEngine(self.spark, index_dir, corpus=corpus, **eng_kw)
        self.register(name, eng)
        return eng

    def put_alias(self, alias: str, *index_names: str) -> None:
        if alias in self.data_streams:
            raise ValueError(
                f"alias {alias!r} collides with a data stream")
        if alias in self.engines:
            # the reference forbids alias/index name collisions
            # (MetadataCreateIndexService validation) — an alias equal to
            # a concrete index would silently shadow it in resolve()
            raise ValueError(f"alias {alias!r} collides with an index name")
        for n in index_names:
            if n not in self.engines:
                raise ValueError(f"unknown index {n!r}")
        self.aliases.setdefault(alias, [])
        for n in index_names:
            if n not in self.aliases[alias]:
                self.aliases[alias].append(n)

    def delete_alias(self, alias: str) -> None:
        self.aliases.pop(alias, None)

    def resolve(self, target: str | Sequence[str]) -> List[str]:
        """Index-name expression resolution: comma-separated lists,
        aliases, and ``*`` wildcards (IndexNameExpressionResolver)."""
        if isinstance(target, str):
            parts = [p.strip() for p in target.split(",") if p.strip()]
        else:
            parts = list(target)
        out: List[str] = []

        def add(n: str) -> None:
            if n not in out:
                out.append(n)

        for p in parts:
            if p in self.data_streams:
                for n in self.data_streams[p]:
                    add(n)
            elif p in self.aliases:
                for n in self.aliases[p]:
                    add(n)
            elif any(ch in p for ch in "*?"):
                matched = sorted(
                    n for n in self.engines if fnmatch.fnmatch(n, p)
                )
                for n in matched:
                    add(n)
                # the reference's resolver expands wildcards over data
                # streams to their backing indices too
                for ds in sorted(self.data_streams):
                    if fnmatch.fnmatch(ds, p):
                        for n in self.data_streams[ds]:
                            add(n)
            elif p in self.engines:
                add(p)
            else:
                raise ValueError(f"no such index or alias: {p!r}")
        if not out:
            raise ValueError(f"target {target!r} matched no indexes")
        return out

    # ---- cross-index operations --------------------------------------

    def search(self, target, query: dict, k: int = 10,
               indices_boost: Dict[str, float] | None = None) -> DataFrame:
        """Top-k across every index behind ``target``: per-index top-k
        plans unioned with an ``_index`` column, ONE global
        TakeOrderedAndProject — a single Spark job. ``indices_boost``
        multiplies scores per index (reference: the `indices_boost`
        request key, SearchSourceBuilder)."""
        names = self.resolve(target)
        boosts = indices_boost or {}
        parts = []
        for n in names:
            eng = self.engines[n]
            part = eng.search(query, k=k)
            b = float(boosts.get(n, 1.0))
            score = (F.col("score") * F.lit(b)) if b != 1.0 else F.col("score")
            parts.append(
                part.select(F.lit(n).alias("_index"), "docId",
                            score.alias("score"))
            )
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        return u.orderBy(F.desc("score"), F.asc("docId"),
                         F.asc("_index")).limit(k)

    def count(self, target, query: dict) -> int:
        return sum(self.engines[n].count(query) for n in self.resolve(target))

    def mget(self, target, doc_ids: Sequence[int]) -> List[dict]:
        """`_mget`: fetch documents by id with found flags (reference:
        TransportGetAction — realtime GET against the live corpus).
        ONE pushdown-filtered job per index, not per id: the id set
        becomes an IN-filter the parquet scan prunes on; earlier indexes
        in resolution order win duplicate ids."""
        names = self.resolve(target)
        ids = [int(d) for d in doc_ids]
        found: Dict[int, dict] = {}
        for n in names:
            eng = self.engines[n]
            if eng.corpus is None:
                continue
            missing = [d for d in ids if d not in found]
            if not missing:
                break
            for r in eng.corpus.where(F.col("docId").isin(missing)).collect():
                did = int(r["docId"])
                if did not in found:
                    found[did] = {"_index": n, "_id": did, "found": True,
                                  "_source": r.asDict()}
        return [found.get(d, {"_id": d, "found": False}) for d in ids]

    # ---- index templates ---------------------------------------------

    def put_index_template(self, name: str, body: dict) -> None:
        """Composable index template (reference: RestPutComposableIndex
        TemplateAction / MetadataIndexTemplateService): ``body`` =
        {"index_patterns": [...], "priority": int, "template": {build /
        engine kwargs applied as DEFAULTS at create_index time}}."""
        if not body.get("index_patterns"):
            raise ValueError("index template needs index_patterns")
        self.templates[name] = {
            "index_patterns": list(body["index_patterns"]),
            "priority": int(body.get("priority", 0)),
            "template": dict(body.get("template") or {}),
        }

    def delete_index_template(self, name: str) -> None:
        self.templates.pop(name, None)

    def _template_defaults(self, index_name: str) -> dict:
        """Highest-priority matching template wins (the reference's
        composable-template resolution order)."""
        best, best_prio = {}, None
        for t in self.templates.values():
            if any(fnmatch.fnmatch(index_name, p)
                   for p in t["index_patterns"]):
                if best_prio is None or t["priority"] > best_prio:
                    best, best_prio = t["template"], t["priority"]
        return dict(best)

    # ---- data streams -------------------------------------------------

    def create_data_stream(self, name: str) -> None:
        """Data stream (reference: RestCreateDataStreamAction /
        cluster/metadata/DataStream.java): an append-only series of
        generation-numbered backing indexes; writes land in the LATEST
        generation, reads fan out over all of them."""
        if name in self.engines or name in self.aliases:
            raise ValueError(f"name {name!r} already in use")
        if name in self.data_streams:
            raise ValueError(f"data stream {name!r} already exists")
        self.data_streams[name] = []

    def data_stream_write(self, name: str, corpus: DataFrame,
                          index_dir: str, **build_kw) -> object:
        """Append one batch: rolls the stream over to a new backing
        index ``.ds-<name>-NNNNNN`` built from ``corpus`` (batch-
        oriented rollover — each generation is one immutable build,
        the Spark-native write model). Template defaults apply."""
        if name not in self.data_streams:
            raise ValueError(f"no such data stream: {name!r}")
        gen = len(self.data_streams[name]) + 1
        backing = f".ds-{name}-{gen:06d}"
        # create_index resolves template defaults for the backing name
        eng = self.create_index(backing, corpus, index_dir, **build_kw)
        self.data_streams[name].append(backing)
        return eng

    def delete_data_stream(self, name: str) -> None:
        for backing in self.data_streams.pop(name, []):
            self.engines.pop(backing, None)

    def data_streams_stats(self, name: str) -> dict:
        backing = self.data_streams[name]
        return {
            "generations": len(backing),
            "backing_indices": list(backing),
            "write_index": backing[-1] if backing else None,
            "doc_count": sum(self.engines[b].doc_count for b in backing),
        }

    # ---- resize (shrink / clone) --------------------------------------

    def shrink_index(self, source: str, target: str, target_dir: str,
                     target_segments: int = 1) -> object:
        """`_shrink` (reference: RestResizeHandler / TransportResize
        Action): same docs, fewer shards — here the segment-merge
        machinery (compact_index) rewrites the source index into
        ``target_segments`` segments at ``target_dir``."""
        import shutil as _shutil

        from opensearch_spark.index.incremental import compact_index
        from opensearch_spark.search.engine import SearchEngine

        src = self.engines[source]
        _shutil.copytree(src.paths.root, target_dir,
                         ignore=_shutil.ignore_patterns("pits"))
        compact_index(self.spark, target_dir,
                      target_segments=target_segments)
        # src.corpus already carries the derived docId column, so the
        # new engine binds to it directly (doc_id_col='docId') — the
        # source's id scheme (id_cols hash or explicit column) is
        # preserved no matter how it was built
        eng = SearchEngine(self.spark, target_dir, corpus=src.corpus,
                           text_field=src.text_field, doc_id_col="docId")
        self.register(target, eng)
        return eng

    def clone_index(self, source: str, target: str) -> object:
        """`_clone`: register a second engine over the SAME immutable
        index files (the reference hard-links segment files; parquet
        index tables are immutable here, so sharing is free)."""
        from opensearch_spark.search.engine import SearchEngine

        src = self.engines[source]
        eng = SearchEngine(self.spark, src.paths.root, corpus=src.corpus,
                           text_field=src.text_field, doc_id_col="docId")
        self.register(target, eng)
        return eng

    def field_caps(self, target) -> Dict[str, dict]:
        """`_field_caps` (reference: action/fieldcaps/
        TransportFieldCapabilitiesAction): per field, its type and
        whether it is searchable (the indexed text field) / aggregatable
        (everything with doc values — every corpus column here), merged
        across the resolved indexes."""
        out: Dict[str, dict] = {}
        for n in self.resolve(target):
            eng = self.engines[n]
            if eng.corpus is None:
                continue
            for f in eng.corpus.schema.fields:
                if f.name == "docId":
                    continue
                cap = out.setdefault(f.name, {
                    "type": f.dataType.simpleString(),
                    "searchable": False, "aggregatable": True,
                    "indices": [],
                })
                if f.name == eng.text_field:
                    cap["searchable"] = True
                cap["indices"].append(n)
        return out
