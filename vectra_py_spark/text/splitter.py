"""Recursive token-aware text splitter (SURVEY.md §2.6 T1–T4, T7).

Re-implements the *semantics* of the reference's splitter
(``/root/reference/src/vectra_py/text_splitter.py:94-174``): split text
by an ordered, doc_type-specific separator list; parts still over the
token budget recurse with the next separator; the separator-less base
case halves the string; adjacent small chunks greedily pack back up to
``chunk_size``; optional token overlap attaches neighbor context. Chunk
positions are absolute character offsets with an INCLUSIVE ``end_pos``
(downstream re-slices ``text[start_pos:end_pos+1]``,
``local_document_result.py:51``).

Behavioral constants kept from the reference (they change chunk
boundaries, so they're semantics, not style):

- the ``len(part)/6 > chunk_size`` heuristic skips tokenizing obviously
  oversized parts before recursing (``text_splitter.py:123-127``)
- parts with no ``[A-Za-z0-9]`` are dropped (``:120-121,176-177``)
- packing joins with ``' '``, or ``''`` when separators are kept
  (``:150-174``)
- defaults 400/40 (doc pipeline overrides to 512/0/keep_separators,
  ``local_document_index.py:65-70``); validation ``chunk_size >= 1``,
  ``0 <= overlap <= chunk_size`` (``:64-70``)

Spark-side: this is a deterministic scalar→table function (UDTF shape).
:func:`split_documents` runs it via ``mapInPandas`` — one Python/Arrow
hop per document batch, parallel across partitions; at 100 TB the
documents table is partitioned by id hash and the splitter scales
embarrassingly (no shuffle, no cross-document state).
"""

from __future__ import annotations

import re
from collections.abc import Iterator, Sequence
from dataclasses import dataclass, field

from vectra_py_spark.text.tokenizers import ByteLevelBPETokenizer, Tokenizer

__all__ = [
    "SplitterConfig",
    "TextChunk",
    "TextSplitter",
    "SEPARATORS_BY_DOC_TYPE",
    "DEFAULT_SEPARATORS",
    "split_documents",
    "CHUNK_SCHEMA",
]

_ALNUM_RE = re.compile(r"[A-Za-z0-9]")

DEFAULT_SEPARATORS: list[str] = ["\n\n", "\n", " "]

# Per-language separator ladders (reference T4 covers 23 doc types,
# ``text_splitter.py:179-667``; the split points — class/function/block
# boundaries first, then paragraphs, lines, words — are the public
# recursive-splitter convention).
_C_LIKE = ["\nclass ", "\nvoid ", "\nint ", "\nfloat ", "\ndouble ",
           "\nif ", "\nfor ", "\nwhile ", "\nswitch ", "\ncase ",
           "\n\n", "\n", " "]
_JS_LIKE = ["\nfunction ", "\nconst ", "\nlet ", "\nvar ", "\nclass ",
            "\nif ", "\nfor ", "\nwhile ", "\nswitch ", "\ncase ",
            "\ndefault ", "\n\n", "\n", " "]
SEPARATORS_BY_DOC_TYPE: dict[str, list[str]] = {
    "cpp": _C_LIKE,
    "go": ["\nfunc ", "\nvar ", "\nconst ", "\ntype ", "\nif ", "\nfor ",
           "\nswitch ", "\ncase ", "\n\n", "\n", " "],
    "java": ["\nclass ", "\npublic ", "\nprotected ", "\nprivate ",
             "\nstatic ", "\nif ", "\nfor ", "\nwhile ", "\nswitch ",
             "\ncase ", "\n\n", "\n", " "],
    "c#": ["\ninterface ", "\nenum ", "\nimplements ", "\ndelegate ",
           "\nevent ", "\nclass ", "\nabstract ", "\npublic ",
           "\nprotected ", "\nprivate ", "\nstatic ", "\nreturn ",
           "\nif ", "\ncontinue ", "\nfor ", "\nforeach ", "\nwhile ",
           "\nswitch ", "\nbreak ", "\ncase ", "\nelse ", "\ntry ",
           "\nthrow ", "\nfinally ", "\ncatch ", "\n\n", "\n", " "],
    "ts": ["\nenum ", "\ninterface ", "\nnamespace ", "\ntype ",
           "\nclass ", "\nfunction ", "\nconst ", "\nlet ", "\nvar ",
           "\nif ", "\nfor ", "\nwhile ", "\nswitch ", "\ncase ",
           "\ndefault ", "\n\n", "\n", " "],
    "js": _JS_LIKE,
    "php": ["\nfunction ", "\nclass ", "\nif ", "\nforeach ", "\nwhile ",
            "\ndo ", "\nswitch ", "\ncase ", "\n\n", "\n", " "],
    "proto": ["\nmessage ", "\nservice ", "\nenum ", "\noption ",
              "\nimport ", "\nsyntax ", "\n\n", "\n", " "],
    "py": ["\nclass ", "\ndef ", "\n\tdef ", "\n\n", "\n", " "],
    "rst": ["\n=+\n", "\n-+\n", "\n\\*+\n", "\n\n.. *\n\n", "\n\n", "\n", " "],
    "ruby": ["\ndef ", "\nclass ", "\nif ", "\nunless ", "\nwhile ",
             "\nfor ", "\ndo ", "\nbegin ", "\nrescue ", "\n\n", "\n", " "],
    "rust": ["\nfn ", "\nconst ", "\nlet ", "\nif ", "\nwhile ",
             "\nfor ", "\nloop ", "\nmatch ", "\nconst ", "\n\n", "\n", " "],
    "scala": ["\nclass ", "\nobject ", "\ndef ", "\nval ", "\nvar ",
              "\nif ", "\nfor ", "\nwhile ", "\nmatch ", "\ncase ",
              "\n\n", "\n", " "],
    "swift": ["\nfunc ", "\nclass ", "\nstruct ", "\nenum ", "\nif ",
              "\nfor ", "\nwhile ", "\ndo ", "\nswitch ", "\ncase ",
              "\n\n", "\n", " "],
    "md": ["\n## ", "\n### ", "\n#### ", "\n##### ", "\n###### ",
           "```\n\n", "\n\n***\n\n", "\n\n---\n\n", "\n\n___\n\n",
           "\n\n", "\n", " "],
    "latex": ["\n\\\\chapter{", "\n\\\\section{", "\n\\\\subsection{",
              "\n\\\\subsubsection{", "\n\\\\begin{enumerate}",
              "\n\\\\begin{itemize}", "\n\\\\begin{description}",
              "\n\\\\begin{list}", "\n\\\\begin{quote}",
              "\n\\\\begin{quotation}", "\n\\\\begin{verse}",
              "\n\\\\begin{verbatim}", "\n\\\\begin{align}",
              "\n\n", "\n", " "],
    "html": ["<body>", "<div>", "<p>", "<br>", "<li>", "<h1>", "<h2>",
             "<h3>", "<h4>", "<h5>", "<h6>", "<span>", "<table>",
             "<tr>", "<td>", "<th>", "<ul>", "<ol>", "<header>",
             "<footer>", "<nav>", "<head>", "<style>", "<script>",
             "<meta>", "<title>", " "],
    "sol": ["\npragma ", "\nusing ", "\ncontract ", "\ninterface ",
            "\nlibrary ", "\nconstructor ", "\ntype ", "\nfunction ",
            "\nevent ", "\nmodifier ", "\nerror ", "\nstruct ",
            "\nenum ", "\nif ", "\nfor ", "\nwhile ", "\ndo while ",
            "\nassembly ", "\n\n", "\n", " "],
}
# alias doc types (reference lists e.g. csharp/cs, tsx/typescript, jsx)
for _alias, _canon in {
    "c++": "cpp", "csharp": "c#", "cs": "c#",
    "tsx": "ts", "typescript": "ts",
    "jsx": "js", "javascript": "js",
    "python": "py", "markdown": "md",
}.items():
    SEPARATORS_BY_DOC_TYPE[_alias] = SEPARATORS_BY_DOC_TYPE[_canon]


@dataclass
class TextChunk:
    """One chunk: text + tokens + absolute char span (end inclusive)."""

    text: str
    tokens: list[int]
    start_pos: int
    end_pos: int
    start_overlap: list[int] = field(default_factory=list)
    end_overlap: list[int] = field(default_factory=list)


@dataclass
class SplitterConfig:
    chunk_size: int = 400
    chunk_overlap: int = 40
    keep_separators: bool = False
    doc_type: str | None = None

    def __post_init__(self) -> None:
        if self.chunk_size < 1:
            raise ValueError("chunk_size must be >= 1")
        if not 0 <= self.chunk_overlap <= self.chunk_size:
            raise ValueError("0 <= chunk_overlap <= chunk_size required")

    @property
    def separators(self) -> list[str]:
        if self.doc_type:
            return SEPARATORS_BY_DOC_TYPE.get(
                self.doc_type.lower(), DEFAULT_SEPARATORS
            )
        return DEFAULT_SEPARATORS


class SingleSpaceTokenizer:
    """1 token per single-space-separated piece — the SQL-expressible
    token model behind the `chunk_spans_simple` driver oracle: with
    this tokenizer the REAL splitter's recursion/guard/packing become
    exactly predictable in ANSI SQL (split + window cumulative
    positions), giving the splitter its first cross-engine value check.
    Token ids carry no meaning (count is the
    contract); decode is intentionally unsupported (overlap=0 regimes
    only)."""

    def encode(self, text: str) -> list[int]:
        return [1 for p in text.split(" ") if p]

    def decode(self, tokens: list[int]) -> str:
        raise NotImplementedError(
            "SingleSpaceTokenizer is count-only (overlap=0 regimes)"
        )


_TOKENIZERS = {
    "bpe": None,  # TextSplitter default (ByteLevelBPETokenizer)
    "space": SingleSpaceTokenizer,
}


class TextSplitter:
    def __init__(
        self, config: SplitterConfig | None = None, tokenizer: Tokenizer | None = None
    ) -> None:
        self.config = config or SplitterConfig()
        self.tokenizer = tokenizer or ByteLevelBPETokenizer()

    # -- public ----------------------------------------------------------
    def split(self, text: str) -> list[TextChunk]:
        if not text:
            return []
        atoms = self._recursive_split(text, 0, self.config.separators)
        chunks = self._combine(atoms, text)
        if self.config.chunk_overlap > 0:
            self._attach_overlap(chunks)
        return chunks

    # -- recursion (T1) --------------------------------------------------
    def _recursive_split(
        self, text: str, base: int, separators: Sequence[str]
    ) -> list[TextChunk]:
        out: list[TextChunk] = []
        for part, offset in self._partition(text, separators[0] if separators else None):
            if not part or not _ALNUM_RE.search(part):
                continue  # P16 alphanumeric guard
            # len/6 heuristic: an average token is ~6 chars; a part this
            # oversized recurses without paying for tokenization.
            if len(part) / 6 > self.config.chunk_size:
                if separators:
                    out.extend(
                        self._recursive_split(part, base + offset, separators[1:])
                    )
                else:
                    out.extend(self._halve(part, base + offset))
                continue
            tokens = self.tokenizer.encode(part)
            if len(tokens) > self.config.chunk_size:
                if separators:
                    out.extend(
                        self._recursive_split(part, base + offset, separators[1:])
                    )
                else:
                    out.extend(self._halve(part, base + offset))
            else:
                out.append(
                    TextChunk(part, tokens, base + offset, base + offset + len(part) - 1)
                )
        return out

    def _partition(
        self, text: str, sep: str | None
    ) -> Iterator[tuple[str, int]]:
        """Yield (part, char_offset). ``keep_separators`` leaves the
        separator attached to the end of the preceding part so positions
        stay exact and re-slicing reproduces the original text."""
        if not sep or sep not in text:
            yield text, 0
            return
        pos = 0
        n, ls = len(text), len(sep)
        while pos < n:
            i = text.find(sep, pos)
            if i < 0:
                yield text[pos:], pos
                return
            if self.config.keep_separators:
                yield text[pos : i + ls], pos
            else:
                yield text[pos:i], pos
            pos = i + ls

    def _halve(self, text: str, base: int) -> list[TextChunk]:
        """Separator-less base case: bisect until under budget
        (``text_splitter.py:129-137``)."""
        tokens = self.tokenizer.encode(text)
        if len(tokens) <= self.config.chunk_size:
            if not _ALNUM_RE.search(text):
                return []
            return [TextChunk(text, tokens, base, base + len(text) - 1)]
        mid = len(text) // 2
        return self._halve(text[:mid], base) + self._halve(text[mid:], base + mid)

    # -- packing (T2) ----------------------------------------------------
    def _combine(self, atoms: list[TextChunk], source: str) -> list[TextChunk]:
        join = "" if self.config.keep_separators else " "
        out: list[TextChunk] = []
        group: list[TextChunk] = []
        group_tokens = 0

        def flush() -> None:
            nonlocal group, group_tokens
            if not group:
                return
            if len(group) == 1:
                out.append(group[0])
            else:
                text = join.join(c.text for c in group)
                if join:
                    tokens = self.tokenizer.encode(text)
                else:
                    tokens = [t for c in group for t in c.tokens]
                out.append(
                    TextChunk(text, tokens, group[0].start_pos, group[-1].end_pos)
                )
            group, group_tokens = [], 0

        for atom in atoms:
            # keep_separators merges by plain concatenation, which only
            # reproduces source[start:end+1] when the atoms are char-adjacent;
            # a gap (dropped non-alnum part, halving remainder) forces a flush
            # so positions stay exact for W2 re-slicing.
            if (
                group
                and not join
                and atom.start_pos != group[-1].end_pos + 1
            ):
                flush()
            extra = len(atom.tokens) + (1 if (group and join) else 0)
            if group and group_tokens + extra > self.config.chunk_size:
                flush()
                extra = len(atom.tokens)
            group.append(atom)
            group_tokens += extra
        flush()
        return out

    # -- overlap (T3) ----------------------------------------------------
    def _attach_overlap(self, chunks: list[TextChunk]) -> None:
        k = self.config.chunk_overlap
        for i, c in enumerate(chunks):
            if i > 0:
                c.start_overlap = chunks[i - 1].tokens[-k:]
            if i + 1 < len(chunks):
                c.end_overlap = chunks[i + 1].tokens[:k]


# ---------------------------------------------------------------------------
# Spark surface: documents DataFrame → chunks DataFrame via mapInPandas
# ---------------------------------------------------------------------------
CHUNK_SCHEMA = (
    "document_id STRING, chunk_index INT, text STRING, n_tokens INT, "
    "start_pos BIGINT, end_pos BIGINT"
)


def split_documents(
    df,
    id_col: str = "document_id",
    text_col: str = "text",
    doc_type_col: str | None = None,
    chunk_size: int = 512,
    chunk_overlap: int = 0,
    keep_separators: bool = True,
    tokenizer: str = "bpe",
):
    """documents → one row per chunk (the reference's D5 split stage).

    Defaults match the doc-pipeline config (512/0/keep,
    ``local_document_index.py:65-70``). Runs as ``mapInPandas`` so each
    Arrow batch of documents is split inside one Python worker call —
    no per-row UDF overhead, no shuffle, linear scale-out.
    ``tokenizer`` selects the token model by name (a string so nothing
    heavier than the flag crosses the pickle boundary): ``"bpe"`` (the
    default byte-level BPE) or ``"space"``
    (:class:`SingleSpaceTokenizer`, the oracle regime).
    """
    import pandas as pd

    from vectra_py_spark.session import spread

    if tokenizer not in _TOKENIZERS:  # fail on the driver, not in a stage
        raise ValueError(
            f"unknown tokenizer {tokenizer!r}; one of {sorted(_TOKENIZERS)}"
        )
    if tokenizer == "space" and chunk_overlap > 0:
        # SingleSpaceTokenizer is count-only: its token lists are all-1
        # placeholders, so overlap context attached from them would be
        # meaningless. Refuse on the driver.
        raise ValueError(
            "tokenizer='space' is count-only and cannot supply overlap "
            "context; use chunk_overlap=0 or tokenizer='bpe'"
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per-executor lazy init (tokenizer never pickled)
        splitters: dict[str, TextSplitter] = {}
        for pdf in batches:
            rows: dict[str, list] = {
                "document_id": [], "chunk_index": [], "text": [],
                "n_tokens": [], "start_pos": [], "end_pos": [],
            }
            for _, rec in pdf.iterrows():
                doc_type = (
                    str(rec[doc_type_col]).lower()
                    if doc_type_col and rec[doc_type_col] is not None
                    else ""
                )
                sp = splitters.get(doc_type)
                if sp is None:
                    tok_cls = _TOKENIZERS[tokenizer]
                    sp = TextSplitter(
                        SplitterConfig(
                            chunk_size=chunk_size,
                            chunk_overlap=chunk_overlap,
                            keep_separators=keep_separators,
                            doc_type=doc_type or None,
                        ),
                        tokenizer=tok_cls() if tok_cls else None,
                    )
                    splitters[doc_type] = sp
                text = rec[text_col]
                if text is None:
                    continue
                for i, ch in enumerate(sp.split(str(text))):
                    rows["document_id"].append(str(rec[id_col]))
                    rows["chunk_index"].append(i)
                    rows["text"].append(ch.text)
                    rows["n_tokens"].append(len(ch.tokens))
                    rows["start_pos"].append(ch.start_pos)
                    rows["end_pos"].append(ch.end_pos)
            yield pd.DataFrame(rows)

    return spread(df).mapInPandas(run, schema=CHUNK_SCHEMA)
