"""Python user-defined table functions (Spark 4 UDTF API) — the 1→N
escape hatch demo.

The engine's production 1→N operators are all relational
(``posexplode(sequence(...))`` — operators/corpus.chunk_documents,
multimodal.sample_frames): JVM-side, codegen-eligible, no Python in the
hot path. The UDTF here covers the Spark 4 Python table-function API: a
table function whose row expansion is imperative Python. It deliberately
reimplements ``chunk_documents``'s exact semantics so the test can
differential it against the relational form — same answer, different
execution tier.

Cost model (why this is the escape hatch, not the default): each input
row crosses into a Python worker and yields rows one at a time — no
whole-stage codegen, no Arrow batching for the lateral join output.
Reach for a UDTF only when the expansion logic is genuinely
non-expressible (recursive descent, library calls); otherwise stay
relational.
"""

from __future__ import annotations

from pyspark.sql.functions import udtf


@udtf(returnType="chunk_id int, chunk string")
class ChunkText:
    """Fixed-stride character windows over one text value — the UDTF twin
    of ``chunk_documents(chunk_chars=200, overlap=40)``. Every input row
    yields >= 1 chunk (None -> one empty chunk, keeping ids present
    downstream); the last chunk may be short, never empty."""

    CHUNK = 200
    OVERLAP = 40

    def eval(self, text: str | None):  # noqa: D102 — UDTF contract method
        step = self.CHUNK - self.OVERLAP
        t = text or ""
        starts = range(0, max(len(t), 1), step)
        # 0-based chunk ids, matching posexplode's pos in chunk_documents
        for i, s in enumerate(starts):
            yield i, t[s : s + self.CHUNK]
