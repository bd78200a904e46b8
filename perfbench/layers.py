"""Spans around the calls a build makes into each layer (traced runs only).

``instrument`` swaps the layer functions that ``build_graph`` looks up at
call time for wrappers that open a span, run the original, and then force an
action on its lazy output, so the span bills the layer's own work instead of
leaving it to whichever later action happens to run the plan.  The program's
files are not touched and everything is restored on exit.  A hook whose
target no longer exists is skipped and listed in ``missing``; the traced run
then fails its ``hooks_found`` check.

Span names (the ``<layer>`` of the per-layer metrics):

  pipeline.build_graph         whole build (opened by the caller)
  lineage.pending              pending_units, collected
  extraction.extract           extract_changelog, checkpointed
  catalog.merge                SnapshotTable.merge_insert
  catalog.append               SnapshotTable.append
  catalog.overwrite            SnapshotTable.overwrite
  lineage.commit               commit_lineage
  pipeline.materialize         materialize_graph
  canonicalize.build_entities  build_entities, both outputs checkpointed
  linking.dictionary           norm_components: norm collect + kernel + cc
  linking.kernel               driver_link_kernel
  components.cc                driver union-find over the linked pairs
  canonicalize.rewrite         canonicalize_triples, checkpointed
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from perfbench.trace import Tracer

LAYERS = [
    "pipeline.build_graph",
    "lineage.pending",
    "extraction.extract",
    "catalog.merge",
    "catalog.append",
    "catalog.overwrite",
    "lineage.commit",
    "pipeline.materialize",
    "canonicalize.build_entities",
    "linking.dictionary",
    "linking.kernel",
    "components.cc",
    "canonicalize.rewrite",
]


def table_files(table) -> dict[str, int]:
    """{relative path: bytes} of a SnapshotTable's current data files."""
    return {p: os.path.getsize(os.path.join(table.path, p)) for p in table.files_for()}


@contextmanager
def instrument(tracer: Tracer):
    import plume_spark.lineage as lineage
    import plume_spark.operators.canonicalize as canon
    import plume_spark.pipeline as pipeline
    from plume_spark.store.catalog import SnapshotTable

    patches: list[tuple[object, str, object]] = []

    def patch(owner, attr: str, make) -> None:
        orig = getattr(owner, attr, None)
        if orig is None:
            tracer.missing.append(f"{getattr(owner, '__name__', owner)}.{attr}")
            return
        setattr(owner, attr, make(orig))
        patches.append((owner, attr, orig))

    def pending_units(orig):
        def wrapped(units, table, stage):
            with tracer.span("lineage.pending") as s:
                out = orig(units, table, stage)
                rows = out.collect()
                s.attrs.update(units=len(rows), turns=sum(int(r["rows_in"]) for r in rows))
                return units.sparkSession.createDataFrame(rows, schema=out.schema)

        return wrapped

    def extract_changelog(orig):
        def wrapped(df, *a, **kw):
            with tracer.span("extraction.extract") as s:
                out = orig(df, *a, **kw).localCheckpoint(eager=True)
                acc = kw.get("fallback_acc")
                s.attrs.update(
                    rows=out.count(), fallback=int(acc.value) if acc is not None else 0
                )
                return out

        return wrapped

    def checkpointed(name):
        def make(orig):
            def wrapped(*a, **kw):
                with tracer.span(name):
                    return orig(*a, **kw).localCheckpoint(eager=True)

            return wrapped

        return make

    def build_entities(orig):
        def wrapped(*a, **kw):
            with tracer.span("canonicalize.build_entities") as s:
                ents, n2e = orig(*a, **kw)
                ents = ents.localCheckpoint(eager=True)
                n2e = n2e.localCheckpoint(eager=True)
                s.attrs["entities"] = ents.count()
                return ents, n2e

        return wrapped

    def link_kernel(orig):
        def wrapped(norms, *a, **kw):
            with tracer.span("linking.kernel") as s:
                pairs = orig(norms, *a, **kw)
                s.attrs.update(norms=len(norms), pairs=len(pairs))
                return pairs

        return wrapped

    def union_find(orig):
        def wrapped(pairs):
            with tracer.span("components.cc") as s:
                rows = orig(pairs)
                s.attrs["components"] = len({c for _, c in rows})
                return rows

        return wrapped

    def plain(name):
        def make(orig):
            def wrapped(*a, **kw):
                with tracer.span(name):
                    return orig(*a, **kw)

            return wrapped

        return make

    def writes(name):
        def make(orig):
            def wrapped(self, *a, **kw):
                with tracer.span(name, table=os.path.basename(self.path)) as s:
                    before = table_files(self)
                    out = orig(self, *a, **kw)
                    new = {p: b for p, b in table_files(self).items() if p not in before}
                    s.attrs.update(files=len(new), bytes=sum(new.values()))
                    return out

            return wrapped

        return make

    patch(lineage, "pending_units", pending_units)
    patch(lineage, "commit_lineage", plain("lineage.commit"))
    patch(pipeline, "extract_changelog", extract_changelog)
    patch(pipeline, "materialize_graph", plain("pipeline.materialize"))
    patch(pipeline, "build_entities", build_entities)
    patch(pipeline, "canonicalize_triples", checkpointed("canonicalize.rewrite"))
    patch(canon, "norm_components", checkpointed("linking.dictionary"))
    patch(canon, "driver_link_kernel", link_kernel)
    patch(canon, "_driver_union_find", union_find)
    patch(SnapshotTable, "merge_insert", plain("catalog.merge"))
    patch(SnapshotTable, "append", writes("catalog.append"))
    patch(SnapshotTable, "overwrite", writes("catalog.overwrite"))
    try:
        yield
    finally:
        for owner, attr, orig in reversed(patches):
            setattr(owner, attr, orig)
