"""Typed graph store: the reference's IDriver surface on SnapshotTables.

IDriver contract (drivers/base/.../IDriver.scala:24-52): exists(nodeId),
exists(src,dst,edge), bulkTx(delta), propertyFromNodes(label, keys*), clear,
plus exporters.  One backend here (snapshot parquet / Iceberg on a cluster)
instead of six, same semantics.
"""

from __future__ import annotations

import html
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from plume_spark.schemas import ENTITIES, LINEAGE, TRIPLES, with_defaults
from plume_spark.session import local_frame
from plume_spark.store.catalog import SnapshotStore, TableLayout

TRIPLE_KEY = ["subj", "pred", "obj", "conv_id", "turn_idx"]

# Physical layouts — the Spark recast of the reference's secondary indexes
# (drivers/neo4j/.../Neo4jDriver.scala:277-285 CREATE INDEX on id/fullName;
# drivers/overflowdb/.../OverflowDbDriver.scala:49 heap index):
# * triples bucketed by subj and sorted by (pred, subj): an edge probe
#   (edge_exists knows subj, never conv_id) hashes subj on the driver and
#   opens the one file of that bucket, as a node probe does.  This departs
#   from SURVEY §4's bucket(N, conv_id): transcripts and extraction work units
#   stay conv_id-keyed, but no read of the edge table knows a conv_id.
# * entities bucketed + sorted by entity_id: point-lookup file skipping.
# The bucket modulus of both is table state, not a layout constant: each
# materialize overwrites them sized from the staging row count, an upper
# bound on entities and triples (SnapshotTable.buckets_for: one bucket per
# TARGET_ROWS_PER_BUCKET rows, rounded up to a power of two).
TRIPLES_LAYOUT = TableLayout(
    bucket_by="subj", sort_by=("pred", "subj"), stats_cols=("pred", "subj", "conv_id"),
)
ENTITIES_LAYOUT = TableLayout(
    bucket_by="entity_id", sort_by=("entity_id",), stats_cols=("entity_id",),
)


class GraphStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.catalog = SnapshotStore(spark, root)
        self.entities = self.catalog.table("entities", ENTITIES, ENTITIES_LAYOUT)
        self.triples = self.catalog.table("triples", TRIPLES, TRIPLES_LAYOUT)
        self.lineage = self.catalog.table("lineage", LINEAGE)

    # -------------------------------------------------------------- writes

    def bulk_write(self, entities: DataFrame, triples: DataFrame) -> dict[str, int]:
        """bulkTx analog: nodes before edges (the total write ordering of
        GremlinDriver.scala:61-79 / Neo4jDriver.scala:198-213), both MERGE-
        idempotent so re-running a killed job cannot duplicate
        (IDriver node-identity contract, IDriver.scala:91-98)."""
        # pruned MERGEs: both layouts carry their key (entity_id / subj),
        # so the idempotency anti-join reads only the incoming keys' buckets —
        # a bulkTx against a large store costs the delta, not the store.
        # (Incoming frames are consumed twice; callers pass materialized or
        # cheap-to-recompute deltas, the bulkTx contract.)
        self.entities.merge_insert(entities, ["entity_id"], prune=True)
        self.triples.merge_insert(triples, TRIPLE_KEY, prune=True)
        return {"entities": self.entities.row_count(), "triples": self.triples.row_count()}

    def clear(self) -> None:
        """S8 destructive clear — all graph tables."""
        self.entities.truncate()
        self.triples.truncate()
        self.lineage.truncate()

    # -------------------------------------------------------------- reads

    def node_exists(self, entity_id: int) -> bool:
        """P2 point predicate (OverflowDbDriver.scala:63) — bucket-pruned to
        the entity_id's file and read on the driver, no Spark job."""
        return self.entities.exists({"entity_id": entity_id})

    def edge_exists(self, subj: int, obj: int, pred: str) -> bool:
        """P3 directed-edge predicate (OverflowDbDriver.scala:65-66).
        Direction matters: (s,p,o) true does not imply (o,p,s).
        Bucket-pruned on subj (one file), min/max-pruned on (pred, subj) —
        the sort keys of the triple files — and read on the driver."""
        return self.triples.exists({"subj": subj, "pred": pred, "obj": obj})

    def property_from_nodes(self, kind: str, *keys: str) -> DataFrame:
        """P1 typed projection with defaults (OverflowDbDriver.scala:85-94):
        entity_id + requested keys for all nodes of a kind, missing values
        filled with the schema defaults (SchemaBuilder.getPropertyDefault)."""
        cols = ["entity_id", *[k for k in keys if k != "entity_id"]]
        df = self.entities.read().filter(F.col("kind") == kind)
        sub_schema = type(ENTITIES)([f for f in ENTITIES.fields if f.name in cols])
        return with_defaults(df.select(*cols), sub_schema)

    # -------------------------------------------------------------- export

    def export_json(self, out_dir: str) -> None:
        """S6/S7 export: nodes + edges as JSON lines (distributed write)."""
        self.entities.read().write.mode("overwrite").json(os.path.join(out_dir, "nodes"))
        self.triples.read().write.mode("overwrite").json(os.path.join(out_dir, "edges"))

    def import_json(self, in_dir: str) -> None:
        """S3 bulk import of a previously exported graph (round-trip parity,
        TinkerGraphDriver.scala:48-61)."""
        nodes = self.spark.read.schema(ENTITIES).json(os.path.join(in_dir, "nodes"))
        edges = self.spark.read.schema(TRIPLES).json(os.path.join(in_dir, "edges"))
        self.entities.overwrite(nodes)
        self.triples.overwrite(edges)

    _NODE_KEYS = ("canonical_name", "kind", "aliases")
    _EDGE_KEYS = ("pred", "conv_id", "turn_idx", "src_mention", "obj_mention")

    def export_graphml(self, path: str, max_rows: int = 1_000_000) -> None:
        """Single-file GraphML parity artifact (hand-rolled, nodes then edges,
        XML-escaped — the shape of OverflowDbDriver.scala:103-157).  Driver-
        collected, so bounded by max_rows: this is a small parity/debug
        exporter, not the scale path (export_json is).  LOSSLESS: every
        entity/triple column rides as a <data> element (null columns omitted,
        list property serialized as CSV — the serializeLists convention,
        IDriver.scala:141-148), so import_graphml round-trips frame-equal."""
        nodes = self.entities.read().limit(max_rows).collect()
        edges = self.triples.read().limit(max_rows).collect()

        def data(key: str, value) -> str:
            if value is None:
                return ""
            if isinstance(value, list):
                value = ",".join(value)
            return f'<data key="{key}">{html.escape(str(value))}</data>'

        with open(path, "w", encoding="utf-8") as f:
            f.write('<?xml version="1.0" encoding="UTF-8"?>\n')
            f.write('<graphml xmlns="http://graphml.graphdrawing.org/xmlns">\n')
            for k in self._NODE_KEYS:
                f.write(f'<key id="{k}" for="node" attr.name="{k}" attr.type="string"/>\n')
            for k in self._EDGE_KEYS:
                f.write(f'<key id="{k}" for="edge" attr.name="{k}" attr.type="string"/>\n')
            f.write('<graph id="G" edgedefault="directed">\n')
            for r in nodes:
                body = "".join(data(k, r[k]) for k in self._NODE_KEYS)
                f.write(f'<node id="n{r["entity_id"]}">{body}</node>\n')
            for i, r in enumerate(edges):
                body = "".join(data(k, r[k]) for k in self._EDGE_KEYS)
                f.write(
                    f'<edge id="e{i}" source="n{r["subj"]}" target="n{r["obj"]}">{body}</edge>\n'
                )
            f.write("</graph>\n</graphml>\n")

    def export_graphson(self, out_dir: str) -> None:
        """Vertex-centric adjacency export, GraphSON-shaped (the third
        format TinkerGraphDriver.scala:31-61 accepts; untyped values, the
        GraphSON 1.0 adjacency layout): one JSON line per vertex with
        ``outE`` grouped by edge label.  Fully DISTRIBUTED, unlike the
        driver-collected GraphML parity artifact: the adjacency fold is two
        shuffles on ``subj`` (both map-side-combined collect_lists) and the
        write streams per partition — this is the scale path for handing the
        graph to a TinkerPop-style consumer."""
        e = self.triples.read()
        by_pred = e.groupBy("subj", "pred").agg(
            F.collect_list(
                F.struct(
                    F.col("obj").alias("inV"),
                    F.struct(
                        "conv_id", "turn_idx", "src_mention", "obj_mention"
                    ).alias("properties"),
                )
            ).alias("edges")
        )
        adj = by_pred.groupBy("subj").agg(
            F.map_from_entries(
                F.collect_list(F.struct("pred", "edges"))
            ).alias("outE")
        )
        n = self.entities.read()
        doc = n.join(adj, n["entity_id"] == adj["subj"], "left").select(
            F.to_json(
                F.struct(
                    F.col("entity_id").alias("id"),
                    F.col("kind").alias("label"),
                    F.struct("canonical_name", "aliases").alias("properties"),
                    F.col("outE"),
                )
            ).alias("value")
        )
        doc.write.mode("overwrite").text(out_dir)

    _GRAPHSON_SCHEMA = (
        "id long, label string, "
        "properties struct<canonical_name:string, aliases:array<string>>, "
        "outE map<string, array<struct<inV:long, "
        "properties:struct<conv_id:string, turn_idx:int, "
        "src_mention:string, obj_mention:string>>>>"
    )

    def import_graphson(self, in_dir: str) -> None:
        """Inverse of export_graphson (round-trip frame-equal): JSON lines
        -> vertices + exploded adjacency -> entities/triples overwrite.
        Distributed end to end; absent JSON fields become NULL columns."""
        doc = self.spark.read.text(in_dir).select(
            F.from_json("value", self._GRAPHSON_SCHEMA).alias("v")
        )
        nodes = doc.select(
            F.col("v.id").alias("entity_id"),
            F.col("v.properties.canonical_name").alias("canonical_name"),
            F.col("v.label").alias("kind"),
            F.col("v.properties.aliases").alias("aliases"),
        )
        edges = (
            doc.select(F.col("v.id").alias("subj"), F.explode("v.outE").alias("pred", "edges"))
            .select("subj", "pred", F.explode("edges").alias("e"))
            .select(
                "subj",
                "pred",
                F.col("e.inV").alias("obj"),
                F.col("e.properties.conv_id").alias("conv_id"),
                F.col("e.properties.turn_idx").alias("turn_idx"),
                F.col("e.properties.src_mention").alias("src_mention"),
                F.col("e.properties.obj_mention").alias("obj_mention"),
            )
        )
        # no with_defaults: a round-trip importer must preserve NULLs, not
        # fill them (the exported JSON already omitted absent fields)
        self.entities.overwrite(nodes)
        self.triples.overwrite(edges)

    def import_graphml(self, path: str) -> None:
        """S3 GraphML bulk import — completes the export->clear->import round
        trip for the third format (TinkerGraphDriver.scala:31-61 loads
        GraphML/GraphSON/Gryo alike).  Inverse of export_graphml: <data>
        elements back to typed columns, absent key = NULL, CSV list back to
        array ('' = empty array)."""
        import xml.etree.ElementTree as ET

        ns = "{http://graphml.graphdrawing.org/xmlns}"
        graph = ET.parse(path).getroot().find(f"{ns}graph")

        def datamap(el) -> dict[str, str]:
            return {d.attrib["key"]: (d.text or "") for d in el.findall(f"{ns}data")}

        node_rows, edge_rows = [], []
        for el in graph.findall(f"{ns}node"):
            d = datamap(el)
            aliases = d.get("aliases")
            node_rows.append(
                (
                    int(el.attrib["id"][1:]),
                    d.get("canonical_name"),
                    d.get("kind"),
                    None if aliases is None else ([] if aliases == "" else aliases.split(",")),
                )
            )
        for el in graph.findall(f"{ns}edge"):
            d = datamap(el)
            turn = d.get("turn_idx")
            edge_rows.append(
                (
                    int(el.attrib["source"][1:]),
                    d.get("pred"),
                    int(el.attrib["target"][1:]),
                    d.get("conv_id"),
                    None if turn is None else int(turn),
                    d.get("src_mention"),
                    d.get("obj_mention"),
                )
            )
        self.entities.overwrite(local_frame(self.spark, node_rows, ENTITIES))
        self.triples.overwrite(local_frame(self.spark, edge_rows, TRIPLES))

    # -------------------------------------------------------------- checks

    def dangling_edges(self) -> DataFrame:
        """Schema-constraint check (J8): triples whose subj or obj has no
        entity row — anti-join must be empty (SchemaBuilder.checkEdgeConstraint
        recast as a test-time join)."""
        e = self.entities.read().select("entity_id")
        t = self.triples.read()
        bad_subj = t.join(e.withColumnRenamed("entity_id", "subj"), "subj", "left_anti")
        bad_obj = t.join(e.withColumnRenamed("entity_id", "obj"), "obj", "left_anti")
        return bad_subj.unionByName(bad_obj)

    def kind_violations(self) -> DataFrame:
        """Endpoint-KIND constraint check (the full checkEdgeConstraint,
        SchemaBuilder.scala:54-129, beyond the FK existence of
        dangling_edges): triples whose (pred, subj kind, obj kind) matches no
        rule in schemas.EDGE_CONSTRAINTS.  Must be empty for a valid graph."""
        from plume_spark.operators.constraints import kind_violations

        e = self.entities.read().select("entity_id", "kind")
        t = self.triples.read()
        typed = t.join(
            e.withColumnRenamed("entity_id", "subj").withColumnRenamed("kind", "subj_kind"),
            "subj",
        ).join(
            e.withColumnRenamed("entity_id", "obj").withColumnRenamed("kind", "obj_kind"),
            "obj",
        )
        return kind_violations(typed)
