"""Raw-kind inventory: which (rec, kind, lang) triples the RAW stream holds.

The extraction checkpoint carries one observed aggregate — the set of
`rec|kind|lang` strings, where kind is the row's m_kind (mentions),
node_type (nodes and fat companions) or edge_type (in-file edges) — so the
inventory arrives with the checkpoint job and costs no job of its own
(`build_graph` reads it after that checkpoint).

Every link-plane input that is a slice of one kind comes from `of`.  For a
kind the inventory lacks, `of` returns the same frame filtered by a literal
FALSE: an empty relation with the same schema, which Catalyst's
empty-relation propagation folds through every join, union branch and
aggregate built on it.  So an edge family, a fused-union branch, a cascade
strategy or a probe whose input kind is absent from the corpus drops out
of the optimized plan and never runs, without a per-family branch — the
reference likewise runs a language's passes only for the languages it
detects (clean_graph dispatch, ast/src/builder/stages.rs:628-640).

Take slices from checkpointed frames: joining folded slices of a deep,
uncheckpointed plan made DataFrame analysis itself the cost (measured
5-6 s for the indirect-test table over `nodes_final`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# the column that names a RAW row's kind, per record type
KIND_COL = {"node": "node_type", "fat": "node_type", "edge": "edge_type",
            "mention": "m_kind"}


def kinds_metric() -> Column:
    """The observed aggregate: collect_set of 'rec|kind|lang'."""
    kind = F.coalesce("m_kind", "node_type", "edge_type", F.lit(""))
    return F.collect_set(F.concat_ws("|", "rec", kind, "lang")).alias("kinds")


class RawInventory:
    def __init__(self, kinds):
        """`kinds`: the observed 'rec|kind|lang' strings."""
        self.triples = frozenset(tuple(k.split("|", 2)) for k in kinds)

    def langs(self, rec: str, kind: str | None = None) -> list[str]:
        """Languages holding `rec` rows of `kind` (any kind when None)."""
        return sorted({l for r, k, l in self.triples
                       if r == rec and (kind is None or k == kind)})

    def of(self, df: DataFrame, rec: str, kind: str | None = None,
           langs: list[str] | None = None) -> DataFrame:
        """The rows of `df` of this kind (any kind when None) and of these
        languages (all when None); an empty relation when the inventory
        holds none of them.  `df` holds `rec` rows of the RAW stream, or is
        a frame derived from them that keeps the kind column (the node
        table, the mention stream)."""
        held = [l for l in self.langs(rec, kind)
                if langs is None or l in langs]
        if not held:
            return df.where(F.lit(False))
        if kind is not None:
            df = df.where(F.col(KIND_COL[rec]) == kind)
        if langs is not None:
            df = df.where(F.col("lang").isin(held))
        return df

    def nodes(self, df: DataFrame, node_type: str,
              langs: list[str] | None = None) -> DataFrame:
        return self.of(df, "node", node_type, langs)

    def mentions(self, df: DataFrame, m_kind: str,
                 langs: list[str] | None = None) -> DataFrame:
        return self.of(df, "mention", m_kind, langs)
