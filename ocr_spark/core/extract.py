"""Top-level extraction entry point — the single shared code path.

The single-node oracle extractor AND the Spark pandas UDF both call
:func:`extract` (SURVEY.md §7 rule #1), so the golden-file byte-identity
contract (BASELINE.json:6,15) holds by construction.

Pipeline shape mirrors the reference CLI chain
(/root/reference/hebrew-letter-segmentation.py:230-272):
  blob -> decode (preprocess) -> tokenize (line scan) -> DOM (segmentation)
  -> block features + classify (CNN classify) -> assemble (RTL join)
  -> metrics (quality analysis).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from ocr_spark.core import pdf as _pdf
from ocr_spark.core.assemble import assemble
from ocr_spark.core.blocks import Block, classify_blocks, segment_html
from ocr_spark.core.encoding import decode_bytes

KIND_HTML = "html"
KIND_PDF = "pdf"
KIND_EMPTY = "empty"


@dataclass
class ExtractResult:
    """Per-document extraction output (analog of the OCRImage result row,
    /root/reference/ocr_project/ocr_app/models.py:12-24)."""

    text: str = ""
    kind: str = KIND_EMPTY
    encoding: str = "empty"
    n_blocks: int = 0            # total segmented blocks
    n_content_blocks: int = 0    # blocks classified as main content
    recoveries: int = 0          # tokenizer recovery events
    link_density: float = 0.0    # doc-level anchor-word density
    blocks: list[Block] = field(default_factory=list)


def extract(data: bytes | None, lang: str | None = None,
            keep_blocks: bool = False) -> ExtractResult:
    """Extract main content from page bytes. Total: never raises.

    ``lang`` is accepted for signature parity with the input table; the
    shallow-feature classifier is language-agnostic by design (word counts
    and link density, not lexicons).
    """
    if data is None or len(data) == 0:
        return ExtractResult()
    if _pdf.is_pdf(data):
        text = _pdf.extract_pdf_text(data)
        # Non-empty lines only: band joins ("\n\n") produce empty line
        # slots that must not become phantom zero-word span records (the
        # span contract: empty blocks are never emitted).
        lines = [ln for ln in text.split("\n") if ln] if text else []
        pdf_blocks: list[Block] = []
        if keep_blocks:
            # PDF spans: one block per assembled line (the analog of the
            # reference's line records, /root/reference/utils.py:79-81)
            pdf_blocks = [
                Block(block_id=i, tag="line", depth=0, text=ln,
                      n_chars=len(ln), n_words=len(ln.split()),
                      anchor_words=0, link_density=0.0,
                      in_boiler_container=False, is_content=True)
                for i, ln in enumerate(lines)]
        return ExtractResult(
            text=text,
            kind=KIND_PDF,
            encoding="binary",
            n_blocks=len(lines),
            n_content_blocks=len(lines),
            blocks=pdf_blocks,
        )

    decoded, enc = decode_bytes(bytes(data))
    if not decoded.strip():
        return ExtractResult(encoding=enc)

    # fused tokenize+segment in ONE pass — pinned to the DOM-tree
    # reference spelling in tests/oracles (blocks.py segment_html docstring)
    raw_blocks, recoveries = segment_html(decoded)
    blocks = classify_blocks(raw_blocks)
    text = assemble(blocks)

    total_words = sum(b.n_words for b in blocks)
    anchor_words = sum(b.anchor_words for b in blocks)
    return ExtractResult(
        text=text,
        kind=KIND_HTML,
        encoding=enc,
        n_blocks=len(blocks),
        n_content_blocks=sum(1 for b in blocks if b.is_content),
        recoveries=recoveries,
        link_density=(anchor_words / total_words) if total_words else 0.0,
        blocks=blocks if keep_blocks else [],
    )
