"""A39: interactive lineage Q&A REPL (reference qa/ask.py:377-388, 457-519).

The reference's user-facing entry point is a multi-line stdin loop that, per
question: extracts candidate columns, computes deterministic column/script
closures + gold outputs, retrieves top-k corpus docs, assembles capped
evidence, and asks the LLM with an evidence-only constraint. This module is
that loop over the Spark-native pieces this package already has:

  * deterministic evidence   -> lineage.graphqa.build_evidence
  * retrieval                -> lineage.embed (hash embedder + exact top-k)
  * constrained answer (A38) -> lineage.enrich.answer_question, behind the
    pluggable ModelClient (MockModelClient by default — the reference's own
    "LLMs never define lineage truth" rule, README.md:111-113, means the
    deterministic evidence block is the artifact of record either way)

Interaction contract mirrors the reference: paste a multi-line question, a
blank line submits, Ctrl+C / EOF exits; the answer prints followed by a
debug footer (candidate columns, impacted-script and gold-output counts,
retrieved-doc count — qa/ask.py:505-512).

Usage:
    python -m ai_metadata_lineage_pyspark_spark.ask

Driver-side by design: the heavy lifting (extraction, graph closure,
embedding) stays in Spark jobs. What the session keeps on the driver is the
known-column set, the capped evidence lists of at most
graphqa.MAX_CACHED_COLUMNS columns (see graphqa.LineageGraph), and the
retrieval index: a flat exact index, as the reference's FAISS
IndexFlatL2 is, of at most embed.MAX_INDEX_DOCS docs.

The first ask() of a session collects the known columns
(graphqa.prepare_graph) and the retrieval index (QASession.index): the
embedded corpus joined once to its refs and texts and collected by one
action into an embed.FlatIndex, with no checkpoint held. A column's
evidence lists are computed on the first question that names it: one
column closure seeded with that question's new columns and one script
closure seeded with their scripts, collected in one action, the closures'
checkpoints released on return. Retrieval runs no Spark job: the index
scores every doc in-process, bit-identically to embed.top_k's cosine, and
keeps the same top k (score DESC, doc_id ASC). A question whose columns
were all asked about before runs no Spark job at all; a question whose
vector is zero (no tokens, or tokens that cancel) retrieves nothing.
"""

from __future__ import annotations

import sys
from dataclasses import dataclass, field
from functools import cached_property

from pyspark.sql import DataFrame, SparkSession

from .lineage.corpus import build_corpus
from .lineage.embed import TOP_K, FlatIndex, embed_documents, hash_embed
from .lineage.enrich import MockModelClient, ModelClient, answer_question
from .lineage.extract import assets_table, columns_table, dataframes_table
from .lineage.graphqa import LineageGraph, build_evidence, prepare_graph
from .lineage.postprocess import edges_table
from .session import get_spark

RETRIEVAL_SHOW = 10


@dataclass
class QASession:
    """Extracted lineage tables + embedded corpus, built once per process
    from one extraction of the scripts (the reference loads outputs/ + the
    FAISS store once at startup, qa/ask.py:462-471). The first ask()
    prepares the lineage graph over them, which keeps each asked column's
    capped evidence lists for the session, and collects the retrieval
    index to the driver. An ask() about columns already asked runs no
    Spark job (see the module docstring)."""

    columns: DataFrame
    edges: DataFrame
    assets: DataFrame
    corpus: DataFrame
    embedded: DataFrame
    client: ModelClient = field(default_factory=MockModelClient)

    @cached_property
    def lineage(self) -> LineageGraph:
        """The prepared lineage graph, built on first use. It holds no JVM
        block, only the known columns and at most MAX_CACHED_COLUMNS
        columns' capped lists."""
        return prepare_graph(self.columns, self.edges, self.assets)

    @cached_property
    def index(self) -> FlatIndex:
        """The retrieval index, built on first use: each embedded doc with
        its ref and text, collected once to the driver."""
        return FlatIndex.collect(self.embedded.join(self.corpus, "doc_id"))

    @classmethod
    def build(cls, spark: SparkSession, client: ModelClient | None = None) -> "QASession":
        from .lineage.queries import _facts

        facts = _facts(spark)
        cols, dfs = columns_table(facts), dataframes_table(facts)
        edges, assets = edges_table(cols, dfs), assets_table(facts)
        corpus = build_corpus(assets, dfs, cols, edges).localCheckpoint(eager=False)
        return cls(
            columns=cols,
            edges=edges,
            assets=assets,
            corpus=corpus,
            embedded=embed_documents(corpus).localCheckpoint(eager=False),
            client=client or MockModelClient(),
        )

    def retrieve(self, question: str, k: int = TOP_K) -> list[tuple[str, str]]:
        """Top-k corpus docs for the question: (ref, text) in rank order.
        A zero question vector has no cosine ranking: no docs."""
        vec = hash_embed(question)
        if not any(vec):
            return []
        index = self.index
        return [(index.refs[i], index.texts[i]) for i, _ in index.search(vec, k)]

    def ask(self, question: str) -> dict:
        """One Q&A round: returns answer + evidence + debug counters."""
        hits = self.retrieve(question)
        det_evidence = build_evidence(question, self.lineage)
        doc_lines = [
            f"DOC {i} [{ref}]: {text}" for i, (ref, text) in enumerate(hits[:RETRIEVAL_SHOW], 1)
        ]
        evidence = "RETRIEVED DOCS:\n" + "\n".join(doc_lines) + "\n\n" + det_evidence
        answer = answer_question(self.client, question, evidence)
        debug = {
            "retrieved_docs": len(hits),
            "evidence_lines": det_evidence.count("\n") + 1,
        }
        for line in det_evidence.split("\n"):
            if line.startswith("CANDIDATE COLUMNS:"):
                cands = line.split(":", 1)[1].strip()
                debug["candidate_cols"] = [] if cands == "(none)" else cands.split(", ")
            elif line.startswith("IMPACTED SCRIPTS"):
                debug["impacted_scripts"] = int(line.split("(")[1].split(")")[0])
            elif line.startswith("GOLD OUTPUTS"):
                debug["impacted_gold"] = int(line.split("(")[1].split(")")[0])
        return {"answer": answer, "evidence": evidence, "debug": debug}


def read_multiline_question(stream=None) -> str:
    """Multi-line question terminated by a blank line (qa/ask.py:377-388)."""
    stream = stream or sys.stdin
    print("\nAsk a lineage question (end with a blank line):")
    lines: list[str] = []
    while True:
        line = stream.readline()
        if not line:  # EOF
            break
        if not line.strip():
            break
        lines.append(line.rstrip("\n"))
    return "\n".join(lines).strip()


def main(stream=None, client: ModelClient | None = None) -> None:
    spark = get_spark("lineage-ask")
    qa = QASession.build(spark, client)
    print("\nLineage Q&A ready (HYBRID always).")
    print("Paste multi-line questions. Press ENTER twice to submit. Ctrl+C to exit.")
    while True:
        try:
            q = read_multiline_question(stream)
            if not q:
                if stream is not None or sys.stdin.closed or not sys.stdin.isatty():
                    break  # scripted/piped input exhausted
                continue
            result = qa.ask(q)
            print("\nANSWER:\n")
            print(result["answer"])
            print("\n--- Debug ---")
            for key in ("candidate_cols", "impacted_scripts", "impacted_gold", "retrieved_docs"):
                if key in result["debug"]:
                    print(f"{key}: {result['debug'][key]}")
            print("-------------")
        except KeyboardInterrupt:
            print("\nExiting.")
            break


if __name__ == "__main__":
    main()
