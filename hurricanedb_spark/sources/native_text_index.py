"""Native text index — the reference's `.nativetext.idx` binary format.

Container (NativeTextIndexCreator.java:54-60, 165-181; read back by
NativeTextIndexReader.java:73-99): a 24-byte big-endian header
(int FST_MAGIC | int version=1 | int fstDataLength |
long invertedIndexLength | int numBitmaps), then the serialized FST,
then a BitmapInvertedIndexWriter section ((n+1) int offsets + one
serialized RoaringBitmap posting list per token, token order = sorted
TreeMap order).

FST (FSTHeader.java + ImmutableFST.java — Morfologik FSA version 5, a
public format; the reader in the reference defines the byte contract):

  '\\fsa' magic (4 bytes) | version byte = 5 | filler byte '_' |
  annotation byte '+' | hgtl byte (high nibble nodeDataLength, low
  nibble gotoLength) | [outputs: big-endian int length + the Java
  Map.toString() text "{arcOffset=output, ...}" (FST.buildMap:378-398)]
  | arc bytes.

Arc layout (ImmutableFST.java:115-133, 283-379): byte 0 = label; bytes
1..gotoLength = little-endian goto field whose LOW THREE BITS are flags
(BIT_FINAL_ARC=1, BIT_LAST_ARC=2, BIT_TARGET_NEXT=4) and whose value
>> 3 is the destination node offset (0 = terminal). getRootNode():
skip the dummy arc at offset 0, follow the single epsilon arc's
destination. This writer emits fixed-size arcs (no TARGET_NEXT
compression, no NUMBERS node headers — both optional per the reader's
flag handling), which every conforming reader accepts.

Analyzer: the reference tokenizes through Lucene's StandardAnalyzer
with its 35-word English stop set (LuceneTextIndexCreator.java:62-67).
Here: lowercase `[a-z0-9]+` runs minus the same stop set — identical
for ASCII alphanumeric text; UAX-29 edge cases (apostrophes, CJK)
diverge and are documented engine semantics, enforced identically on
the index AND the residual expression so results never depend on the
index.
"""

from __future__ import annotations

import re
import struct

FST_MAGIC = (ord("\\") << 24) | (ord("f") << 16) | (ord("s") << 8) | ord("a")
FST_VERSION = 5
CONTAINER_VERSION = 1
HEADER_LENGTH = 24
DEFAULT_FILLER = ord("_")
DEFAULT_ANNOTATION = ord("+")
BIT_FINAL_ARC = 1
BIT_LAST_ARC = 2
BIT_TARGET_NEXT = 4
_GTL = 4  # goto field bytes (fixed, absolute addressing)

# LuceneTextIndexCreator.getDefaultEnglishStopWordsSet (exact list)
ENGLISH_STOP_WORDS = frozenset(
    "a an and are as at be but by for if in into is it no not of on or "
    "such that the their then than there these they this to was will "
    "with those".split()
)

_TOKEN_RE = re.compile(r"[a-z0-9]+")


def analyze(text: str | None) -> list[str]:
    """StandardAnalyzer-equivalent for ASCII alnum text: lowercase token
    runs minus the English stop set. Duplicates kept (posting adds the
    same docId once; the bitmap dedups)."""
    if text is None:
        return []
    return [t for t in _TOKEN_RE.findall(text.lower()) if t not in ENGLISH_STOP_WORDS]


# ---------------------------------------------------------------------------
# FSA5 writer


class _TrieNode:
    __slots__ = ("children", "final_output")

    def __init__(self):
        self.children: dict[int, _TrieNode] = {}
        self.final_output: int | None = None


def serialize_fst(terms_with_outputs: list[tuple[str, int]]) -> bytes:
    """Sorted (term, output) pairs -> ImmutableFST version-5 bytes
    (including the '\\fsa' header and the outputs map section)."""
    root = _TrieNode()
    for term, out in terms_with_outputs:
        node = root
        for b in term.encode("utf-8"):
            node = node.children.setdefault(b, _TrieNode())
        node.final_output = out

    arc_size = 1 + _GTL
    preamble = 2 * arc_size  # dummy node arc + epsilon node arc

    # assign offsets to every node that has arcs (leaves are terminal
    # gotos, never serialized); root first so the epsilon arc can always
    # target it. Explicit stack — terms can exceed Python's recursion
    # limit (round-6 review finding: a 2000-byte dictionary value).
    order: list[_TrieNode] = []

    def collect(start: _TrieNode) -> None:
        stack = [start]
        while stack:
            node = stack.pop()
            if node.children:
                order.append(node)
                for b in sorted(node.children, reverse=True):
                    stack.append(node.children[b])

    # the empty term ('' is a legal dictionary value) is carried by the
    # FINAL flag on the epsilon arc, with its output keyed by that arc's
    # offset — the Morfologik convention for the empty sequence
    eps_flags = BIT_LAST_ARC
    eps_outputs: dict[int, int] = {}
    if root.final_output is not None:
        eps_flags |= BIT_FINAL_ARC
        eps_outputs[arc_size] = root.final_output

    if not root.children:
        # no non-empty terms: a root with one never-matching arc keeps
        # the reader's linear scan well-formed
        fsa = bytearray()
        fsa += bytes([0]) + ((0 << 3) | BIT_LAST_ARC).to_bytes(_GTL, "little")
        fsa += bytes([0]) + ((preamble << 3) | eps_flags).to_bytes(_GTL, "little")
        fsa += bytes([0]) + ((0 << 3) | BIT_LAST_ARC).to_bytes(_GTL, "little")
        return _fst_with_header(bytes(fsa), eps_outputs)

    collect(root)
    offsets: dict[int, int] = {}
    pos = preamble
    for node in order:
        offsets[id(node)] = pos
        pos += len(node.children) * arc_size

    outputs: dict[int, int] = dict(eps_outputs)
    fsa = bytearray()
    # dummy terminating node at offset 0 (ImmutableFST.getRootNode skips it)
    fsa += bytes([0]) + ((0 << 3) | BIT_LAST_ARC).to_bytes(_GTL, "little")
    # epsilon node: single arc to the root node
    root_off = offsets[id(root)]
    fsa += bytes([0]) + ((root_off << 3) | eps_flags).to_bytes(_GTL, "little")
    for node in order:
        labels = sorted(node.children)
        arc_off = offsets[id(node)]
        for i, label in enumerate(labels):
            child = node.children[label]
            flags = BIT_LAST_ARC if i == len(labels) - 1 else 0
            if child.final_output is not None:
                flags |= BIT_FINAL_ARC
                outputs[arc_off] = child.final_output
            dest = offsets[id(child)] if child.children else 0
            fsa += bytes([label]) + ((dest << 3) | flags).to_bytes(_GTL, "little")
            arc_off += arc_size
    return _fst_with_header(bytes(fsa), outputs)


def _fst_with_header(fsa: bytes, outputs: dict[int, int]) -> bytes:
    # Java HashMap.toString(): "{k=v, k=v}" — buildMap splits on ',' / '='
    # with trim, so separator spacing is flexible; order is irrelevant
    out_str = "{" + ", ".join(f"{k}={v}" for k, v in sorted(outputs.items())) + "}"
    out_bytes = out_str.encode("utf-8")
    hgtl = (0 << 4) | _GTL  # no NUMBERS node headers
    return (
        struct.pack(">i", FST_MAGIC)
        + bytes([FST_VERSION, DEFAULT_FILLER, DEFAULT_ANNOTATION, hgtl])
        + struct.pack(">i", len(out_bytes))
        + out_bytes
        + fsa
    )


# ---------------------------------------------------------------------------
# FSA5 reader (mirrors ImmutableFST.java traversal semantics)


class ImmutableFst:
    def __init__(self, buf: bytes):
        (magic,) = struct.unpack_from(">i", buf, 0)
        if magic != FST_MAGIC:
            raise ValueError(f"not an FST (magic {magic:#x})")
        version = buf[4]
        if version != FST_VERSION:
            raise ValueError(f"unsupported FST version {version}")
        self.filler, self.annotation, hgtl = buf[5], buf[6], buf[7]
        self.node_data_length = (hgtl >> 4) & 0x0F
        self.goto_length = hgtl & 0x0F
        (out_len,) = struct.unpack_from(">i", buf, 8)
        out_str = buf[12 : 12 + out_len].decode("utf-8")
        self.outputs: dict[int, int] = {}
        body = out_str[1:-1]
        if body:
            for pair in body.split(","):
                k, v = pair.split("=")
                self.outputs[int(k.strip())] = int(v.strip())
        self.arcs = buf[12 + out_len :]

    # --- ImmutableFST accessor mirrors ---
    def _goto_field(self, arc: int) -> int:
        g = self.goto_length
        return int.from_bytes(self.arcs[arc + 1 : arc + 1 + g], "little")

    def _flags(self, arc: int) -> int:
        return self.arcs[arc + 1] & 0x07

    def skip_arc(self, arc: int) -> int:
        if self._flags(arc) & BIT_TARGET_NEXT:
            return arc + 2  # label + flags byte only
        return arc + 1 + self.goto_length

    def first_arc(self, node: int) -> int:
        return self.node_data_length + node

    def next_arc(self, arc: int) -> int:
        return 0 if self._flags(arc) & BIT_LAST_ARC else self.skip_arc(arc)

    def destination(self, arc: int) -> int:
        # NEXT-flagged arcs: destination = the byte right after THIS arc,
        # exactly ImmutableFST.getDestinationNodeOffset:363-374 ("The
        # destination node follows this arc in the array" -> skipArc(arc))
        # — serializers therefore only set NEXT on a node's last arc
        if self._flags(arc) & BIT_TARGET_NEXT:
            return self.skip_arc(arc)
        return self._goto_field(arc) >> 3

    def root_node(self) -> int:
        epsilon = self.skip_arc(self.first_arc(0))
        return self.destination(self.first_arc(epsilon))

    def is_final(self, arc: int) -> bool:
        return bool(self._flags(arc) & BIT_FINAL_ARC)

    def _epsilon_arc(self) -> int:
        return self.skip_arc(self.first_arc(0))

    def lookup(self, term: str) -> int | None:
        """term -> output (dictId), or None. The empty term is carried
        by the FINAL flag on the epsilon arc."""
        if term == "":
            eps = self.first_arc(self._epsilon_arc())
            return self.outputs.get(eps) if self.is_final(eps) else None
        node = self.root_node()
        last = 0
        for b in term.encode("utf-8"):
            if node == 0:
                return None  # previous arc was terminal; term too long
            arc = self.first_arc(node)
            while True:
                if self.arcs[arc] == b:
                    break
                arc = self.next_arc(arc)
                if arc == 0:
                    return None
            node = self.destination(arc)
            last = arc
        if self.is_final(last):
            return self.outputs.get(last)
        return None

    def terms(self):
        """DFS enumeration of (term, output) in lexicographic-ish arc
        order (the writer sorts labels, so reference-written automata
        enumerate in their own serialized order — callers must not rely
        on ordering, postings are addressed by output id)."""
        out: list[tuple[str, int]] = []
        eps = self.first_arc(self._epsilon_arc())
        if self.is_final(eps):
            out.append(("", self.outputs.get(eps)))
        self._enumerate(self.root_node(), b"", out)
        return out

    def terms_with_prefix(self, prefix: str):
        """(term, output) pairs for terms starting with `prefix`: walks
        the prefix path once, then enumerates only that subtree —
        O(|prefix| + matching subtree), not O(vocabulary) (round-6
        review efficiency finding)."""
        out: list[tuple[str, int]] = []
        if prefix == "":
            return self.terms()
        node = self.root_node()
        last = 0
        for b in prefix.encode("utf-8"):
            if node == 0:
                return out
            arc = self.first_arc(node)
            while True:
                if self.arcs[arc] == b:
                    break
                arc = self.next_arc(arc)
                if arc == 0:
                    return out
            node = self.destination(arc)
            last = arc
        if self.is_final(last):
            out.append((prefix, self.outputs.get(last)))
        if node != 0:
            self._enumerate(node, prefix.encode("utf-8"), out)
        return out

    def _enumerate(self, start_node: int, prefix: bytes, out: list) -> None:
        stack: list[tuple[int, bytes]] = [(start_node, prefix)]
        while stack:
            node, pre = stack.pop()
            arc = self.first_arc(node)
            while arc != 0:
                label = self.arcs[arc : arc + 1]
                word = pre + label
                if self.is_final(arc):
                    out.append((word.decode("utf-8", "replace"), self.outputs.get(arc)))
                dest = self.destination(arc)
                if dest != 0:
                    stack.append((dest, word))
                arc = self.next_arc(arc)


# ---------------------------------------------------------------------------
# container


def encode_native_text_index(documents) -> bytes:
    """Iterable of document strings (None allowed) -> `.nativetext.idx`
    bytes. Posting map in sorted-token order, dictIds 0..n-1
    (NativeTextIndexCreator.seal:118-130)."""
    from hurricanedb_spark.sources.pinot_segment import _encode_inverted_index

    postings: dict[str, set[int]] = {}
    for doc_id, text in enumerate(documents):
        for token in analyze(text):
            postings.setdefault(token, set()).add(doc_id)
    tokens = sorted(postings)
    fst_bytes = serialize_fst([(t, i) for i, t in enumerate(tokens)])
    inv_bytes = _encode_inverted_index([sorted(postings[t]) for t in tokens])
    header = struct.pack(
        ">iiiqi",
        FST_MAGIC,
        CONTAINER_VERSION,
        len(fst_bytes),
        len(inv_bytes),
        len(tokens),
    )
    return header + fst_bytes + inv_bytes


class NativeTextIndex:
    """Parsed `.nativetext.idx` with the reader's query semantics
    (NativeTextIndexReader.getDocIds: matched tokens' postings OR'd)."""

    def __init__(self, buf: bytes):
        magic, version, fst_len, inv_len, n_bitmaps = struct.unpack_from(
            ">iiiqi", buf, 0
        )
        if magic != FST_MAGIC:
            raise ValueError(f"invalid native text index magic {magic:#x}")
        if version != CONTAINER_VERSION:
            raise ValueError(f"unsupported native text index version {version}")
        pos = HEADER_LENGTH
        self.fst = ImmutableFst(buf[pos : pos + fst_len])
        self._inv = buf[pos + fst_len : pos + fst_len + inv_len]
        self.n_tokens = n_bitmaps
        self._offsets = struct.unpack_from(f">{n_bitmaps + 1}i", self._inv, 0)

    def posting(self, dict_id: int):
        from hurricanedb_spark.sources.pinot_segment import roaring_deserialize

        lo, hi = self._offsets[dict_id], self._offsets[dict_id + 1]
        return roaring_deserialize(self._inv[lo:hi])

    def doc_ids_for_term(self, term: str):
        import numpy as np

        d = self.fst.lookup(term)
        if d is None:
            return np.empty(0, dtype=np.uint32)
        return self.posting(d)

    def doc_ids_matching(self, predicate):
        """OR of postings for every vocabulary term where
        predicate(term) is true — the RegexpMatcher.regexMatch shape."""
        return self._union(
            out
            for term, out in self.fst.terms()
            if out is not None and predicate(term)
        )

    def doc_ids_with_prefix(self, prefix: str):
        """OR of postings over the prefix subtree only (never walks the
        full vocabulary)."""
        return self._union(
            out
            for _, out in self.fst.terms_with_prefix(prefix)
            if out is not None
        )

    def _union(self, dict_ids):
        import numpy as np

        parts = [self.posting(out) for out in dict_ids]
        if not parts:
            return np.empty(0, dtype=np.uint32)
        return np.unique(np.concatenate(parts))


def read_native_text_index(segment_dir: str, col: str) -> NativeTextIndex:
    from hurricanedb_spark.sources.pinot_segment import (
        _index_buffer,
        _read_psf,
        read_segment_metadata,
    )

    meta = read_segment_metadata(segment_dir)
    return NativeTextIndex(_index_buffer(meta, _read_psf(meta), col, "text_index"))


# ---------------------------------------------------------------------------
# TEXT_CONTAINS acceleration over segment stores


def analyzed_contains_expr(col: str, pattern: str) -> str:
    """Spark boolean expression: does any ANALYZED token of `col` match
    the anchored Java regex `pattern`? This is the authoritative
    TEXT_CONTAINS semantics (tokens = lowercase [a-z0-9]+ runs minus the
    English stop set) — identical whether or not an index exists."""
    stop = ",".join(f"'{w}'" for w in sorted(ENGLISH_STOP_WORDS))
    # Spark SQL string literals consume backslash escapes, so regex
    # classes like \d must be doubled or they silently become 'd'
    # (round-6 review finding, reproduced)
    esc = pattern.replace("\\", "\\\\").replace("'", "''")
    return (
        f"exists(filter(split(lower({col}), '[^a-z0-9]+'), "
        f"t -> t != '' AND NOT t IN ({stop})), "
        f"t -> t rlike '^({esc})$')"
    )


_SAFE_TERM = re.compile(r"^[a-z0-9]+$")
_SAFE_PREFIX = re.compile(r"^([a-z0-9]+)\.\*$")


def text_contains_segment_docs(segment_dir: str, col: str, pattern: str):
    """Per-segment docId bound for one TEXT_CONTAINS pattern: None = no
    readable index or a pattern shape it cannot bound (full decode),
    else the matching tokens' docIds (possibly empty = segment pruned).
    Only a bare literal token and a trailing `.*` prefix are bounded:
    for those, Python-side term enumeration provably agrees with the
    Java-regex residual, so a regex-dialect divergence can never change
    results."""
    term = _SAFE_TERM.match(pattern)
    prefix = _SAFE_PREFIX.match(pattern)
    if not term and not prefix:
        return None
    try:
        idx = read_native_text_index(segment_dir, col)
    except Exception:  # noqa: BLE001 — no/unreadable index: full decode
        return None
    if term:
        return idx.doc_ids_for_term(pattern)
    # prefix shape: subtree walk, not a vocabulary scan
    return idx.doc_ids_with_prefix(prefix.group(1))


def read_segments_text_contains(
    spark,
    segment_dirs: list[str],
    col: str,
    pattern: str,
    columns: list[str] | None = None,
):
    """TEXT_CONTAINS-accelerated distributed segment scan, the
    JSON-index pattern applied to the native text index: for safe
    pattern shapes, each segment's `.nativetext.idx` resolves the token
    posting up front — zero-match segments are skipped, survivors ship
    a roaring docId allowlist — and the analyzed-token residual
    expression ALWAYS re-applies, so results equal the pure expression
    path in every case (index absent, unsafe pattern, stop-word query)."""
    from hurricanedb_spark.sources.pinot_segment import read_segments

    return read_segments(
        spark,
        segment_dirs,
        columns,
        bounds=[lambda s: text_contains_segment_docs(s, col, pattern)],
        residual=analyzed_contains_expr(col, pattern),
    )


# ---------------------------------------------------------------------------
# TEXT_MATCH (boolean / phrase) acceleration over segment stores


_ALNUM = re.compile(r"^[a-z0-9]+$")


def _substring_unsafe(sub: str) -> bool:
    """A substring that can occur inside a stop word is index-invisible
    (analyze() drops stop tokens, so a doc whose only occurrence of the
    substring is in a stop token has no posting) -> must not prune."""
    return any(sub in w for w in ENGLISH_STOP_WORDS)


def _prefix_unsafe(prefix: str) -> bool:
    return any(w.startswith(prefix) for w in ENGLISH_STOP_WORDS)


def _atom_docs(idx: NativeTextIndex, term: str):
    """docId superset for one Lucene clause, or None = unknown (cannot
    bound from postings; the caller treats it as 'all docs'). Each case
    mirrors sql/text_match.py:_term_expr's residual EXACTLY and returns
    a provable superset of it:

      plain term   residual contains(col, lit) is raw substring match,
                   so the superset is the union of postings of every
                   vocabulary token CONTAINING lower(lit) — not just the
                   exact posting ('spark' must also reach 'sparkly').
      "a b"        residual contains(col, 'a b'): any raw occurrence
                   puts each word inside SOME token, so intersect the
                   per-word substring unions.
      "a b"~k      residual matches analyzed tokens by EQUALITY, so
                   intersect exact postings of the non-stop words (the
                   residual's token array keeps stop words; postings
                   don't, so stop words are excluded from the
                   intersection, which can only widen the superset).
      term*        residual is a word-boundary regex: prefix-subtree
                   union of lower(prefix).
      te?t / s*k   residual tests each analyzed token against an
                   anchored wildcard regex: vocabulary scan with the
                   Python-compiled equivalent (escape + . + .* only, so
                   the Java/Python dialects provably agree).
      [a TO b]     residual is a token-range exists(): vocabulary range
                   union (exact, not just a superset).
      /re/, x~n    regex may span token boundaries / fuzzy needs edit
                   distance over the full vocabulary -> None.

    Any clause whose literal can hide inside a stop word returns None:
    stop tokens have no postings, so pruning on them could drop rows."""
    import numpy as np

    if not (term.startswith("/") and term.endswith("/")):
        boost = re.match(r"^(.+?)\^[\d.]+$", term)
        if boost:
            term = boost.group(1)
    if term.startswith('"'):
        m = re.match(r'^"([^"]*)"(?:~(\d+))?$', term)
        if not m:
            return None
        phrase, slop = m.group(1), m.group(2)
        words = [w for w in re.split(r"[^a-zA-Z0-9]+", phrase.lower()) if w]
        if not words:
            return None
        if slop is not None and len(words) >= 2:
            keep = [w for w in words if w not in ENGLISH_STOP_WORDS]
            if not keep:
                return None
            parts = [idx.doc_ids_for_term(w) for w in keep]
        else:
            if any(_substring_unsafe(w) for w in words):
                return None
            parts = [idx.doc_ids_matching(lambda t, w=w: w in t) for w in words]
        out = parts[0]
        for p in parts[1:]:
            out = np.intersect1d(out, p)
        return out
    if term.startswith("/") and term.endswith("/"):
        return None
    if re.match(r"^([^~\s]+)~(\d*)$", term):
        return None  # fuzzy: scan
    if term.endswith("*") and "*" not in term[:-1] and "?" not in term:
        prefix = term[:-1].lower()
        if not _ALNUM.match(prefix) or _prefix_unsafe(prefix):
            return None
        return idx.doc_ids_with_prefix(prefix)
    if "*" in term or "?" in term:
        body = term.lower()
        if not _ALNUM.match(body.replace("*", "").replace("?", "")):
            return None
        rx = re.compile(
            "^"
            + "".join(
                ".*" if c == "*" else "." if c == "?" else re.escape(c)
                for c in body
            )
            + "$"
        )
        # wildcard equality over analyzed tokens can still land on a stop
        # word in the residual's (stopword-keeping) token array
        if any(rx.match(w) for w in ENGLISH_STOP_WORDS):
            return None
        return idx.doc_ids_matching(lambda t: bool(rx.match(t)))
    rm = re.match(r"^[\[{]\s*(\S+)\s+TO\s+(\S+)\s*[\]}]$", term)
    if rm:
        lo, hi = rm.group(1).lower(), rm.group(2).lower()
        lo_op = (lambda t: t >= lo) if term[0] == "[" else (lambda t: t > lo)
        hi_op = (lambda t: t <= hi) if term[-1] == "]" else (lambda t: t < hi)
        in_range = lambda t: (lo == "*" or lo_op(t)) and (hi == "*" or hi_op(t))  # noqa: E731
        if any(in_range(w) for w in ENGLISH_STOP_WORDS):
            return None
        return idx.doc_ids_matching(in_range)
    sub = term.lower()
    if not _ALNUM.match(sub) or _substring_unsafe(sub):
        return None
    return idx.doc_ids_matching(lambda t: sub in t)


def text_match_allowlist(idx: NativeTextIndex, lucene_query: str):
    """Evaluate the boolean structure of a TEXT_MATCH Lucene query
    against the postings: AND -> intersect, OR -> union, adjacency ->
    OR, NOT/unknown clauses -> None, with the same operator insertion
    and SQL precedence as sql/text_match.py:translate_text_match (the
    residual). Three-valued algebra over (docs | None=unknown):
    AND(a, None) = a (still a superset of the conjunction),
    OR(a, None) = None, NOT(_) = None. Returns a docId superset of the
    residual's matches, or None = decode the whole segment.

    Reference: NativeTextIndexReader.getDocIds +
    TextMatchFilterOperator.java answer boolean queries from postings
    the same way."""
    import numpy as np

    from hurricanedb_spark.sql.text_match import _TOKENIZER

    q = lucene_query.strip()
    if q.startswith("'") and q.endswith("'"):
        q = q[1:-1]
    # token stream with the SAME implicit-operator insertion as the
    # residual translator (adjacency = OR; operand-then-NOT = AND NOT)
    items: list[tuple[str, str]] = []
    pos = 0
    prev_operand = False
    while pos < len(q):
        m = _TOKENIZER.match(q, pos)
        if not m:
            break
        pos = m.end()
        kind = m.lastgroup
        if kind == "lparen":
            if prev_operand:
                items.append(("op", "OR"))
            items.append(("lparen", "("))
            prev_operand = False
        elif kind == "rparen":
            items.append(("rparen", ")"))
            prev_operand = True
        elif kind == "and":
            items.append(("op", "AND"))
            prev_operand = False
        elif kind == "or":
            items.append(("op", "OR"))
            prev_operand = False
        elif kind == "not":
            if prev_operand:
                items.append(("op", "AND"))
            items.append(("not", "NOT"))
            prev_operand = False
        elif kind == "field":
            continue
        else:
            if prev_operand:
                items.append(("op", "OR"))
            items.append(("atom", m.group(0).strip()))
            prev_operand = True

    def _and(a, b):
        if a is None:
            return b
        if b is None:
            return a
        return np.intersect1d(a, b)

    def _or(a, b):
        if a is None or b is None:
            return None
        return np.union1d(a, b)

    idx_pos = [0]

    def peek():
        return items[idx_pos[0]] if idx_pos[0] < len(items) else ("end", "")

    def parse_or():
        left = parse_and()
        while peek() == ("op", "OR"):
            idx_pos[0] += 1
            left = _or(left, parse_and())
        return left

    def parse_and():
        left = parse_unary()
        while peek() == ("op", "AND"):
            idx_pos[0] += 1
            left = _and(left, parse_unary())
        return left

    def parse_unary():
        kind, _ = peek()
        if kind == "not":
            idx_pos[0] += 1
            parse_unary()  # evaluated only for stream position
            return None
        if kind == "lparen":
            idx_pos[0] += 1
            inner = parse_or()
            if peek()[0] == "rparen":
                idx_pos[0] += 1
            return inner
        if kind == "atom":
            idx_pos[0] += 1
            return _atom_docs(idx, items[idx_pos[0] - 1][1])
        idx_pos[0] += 1  # stray token: treat as unknown
        return None

    if not items:
        return None
    out = parse_or()
    if idx_pos[0] != len(items):
        return None  # malformed / unparsed tail: never prune
    return out


def text_match_segment_docs(segment_dir: str, col: str, lucene_query: str):
    """Per-segment docId bound for one TEXT_MATCH conjunct: None = no
    readable index or an unboundable query (full decode), else the
    sorted superset docId array (possibly empty = segment pruned). The
    unit read_segments' `bounds` intersect."""
    try:
        idx = read_native_text_index(segment_dir, col)
    except Exception:  # noqa: BLE001 — no/unreadable index: full decode
        return None
    return text_match_allowlist(idx, lucene_query)


def read_segments_text_match(
    spark,
    segment_dirs: list[str],
    col: str,
    lucene_query: str,
    columns: list[str] | None = None,
):
    """TEXT_MATCH-accelerated distributed scan: per segment, the
    `.nativetext.idx` postings bound the boolean/phrase query
    (text_match_allowlist) — zero-match segments are skipped, survivors
    ship a roaring docId allowlist — and the exact
    translate_text_match() residual ALWAYS re-applies, so results equal
    the pure expression path whether the index exists, the query has
    un-indexable clauses (fuzzy/regex/NOT), or the pruning is a strict
    superset (substring terms, position-blind phrases)."""
    from hurricanedb_spark.sources.pinot_segment import read_segments
    from hurricanedb_spark.sql.text_match import translate_text_match

    return read_segments(
        spark,
        segment_dirs,
        columns,
        bounds=[lambda s: text_match_segment_docs(s, col, lucene_query)],
        residual=translate_text_match(col, lucene_query),
    )


# ---------------------------------------------------------------------------
# rebuild-on-migrate: regenerate native text/FST indexes for a migrated
# segment whose Lucene-format indexes cannot be decoded


def lucene_text_index_columns(segment_dir: str) -> list[str]:
    """Columns a migrated reference segment declares Lucene-text-indexed:
    a `{col}.lucene.index` directory (or file) beside the segment files
    (V1Constants.Indexes.LUCENE_TEXT_INDEX_FILE_EXTENSION,
    SegmentDirectoryPaths.findTextIndexIndexFile checks both the segment
    root and the v3 subdirectory)."""
    import os

    from hurricanedb_spark.sources.pinot_segment import (
        _resolve_dir,
        read_segment_metadata,
    )

    meta = read_segment_metadata(segment_dir)
    cols = []
    for d in {segment_dir, _resolve_dir(segment_dir)}:
        for name in os.listdir(d):
            if name.endswith(".lucene.index"):
                col = name[: -len(".lucene.index")]
                if col in meta.columns:
                    cols.append(col)
    return sorted(set(cols))


def _unreadable_fst_columns(segment_dir: str) -> list[str]:
    """Columns whose fst_index entry is not our FSA5 container (a
    migrated Lucene-codec FST): the accelerated regexp path silently
    falls back to scan for these until rebuilt."""
    from hurricanedb_spark.sources.pinot_segment import (
        _index_buffer,
        _read_psf,
        read_segment_metadata,
    )

    meta = read_segment_metadata(segment_dir)
    psf = _read_psf(meta)
    out = []
    for (col, idx_name) in meta.index_map:
        if idx_name != "fst_index":
            continue
        try:
            ImmutableFst(_index_buffer(meta, psf, col, "fst_index"))
        except Exception:  # noqa: BLE001 — any parse failure: rebuild
            out.append(col)
    return sorted(out)


def rebuild_text_indexes(
    segment_dir: str,
    text_columns: list[str] | None = None,
    fst_columns: list[str] | None = None,
) -> dict[str, list[str]]:
    """Regenerate `.nativetext.idx` (from the decoded forward index) and
    `.lucene.fst` (from the sorted dictionary) for one segment, so a
    migrated Lucene-indexed deployment regains accelerated
    TEXT_CONTAINS/TEXT_MATCH/regexp without re-ingesting.

    Defaults: text_columns = columns with a `{col}.lucene.index`
    directory; fst_columns = columns whose fst_index bytes are not FSA5.
    v3 stores append to columns.psf and rewrite the affected index_map
    lines (exactly how the reference's index rebuild works — old bytes
    become dead space); pre-v3 stores write the per-index files. The
    creation.meta CRC is refreshed. Returns {"text": [...], "fst":
    [...]} actually rebuilt."""
    import os
    import struct
    import time
    import zlib

    from hurricanedb_spark.sources.pinot_segment import (
        CREATION_META_FILE,
        INDEX_FILE,
        INDEX_MAP_FILE,
        MAGIC_MARKER,
        UnsupportedSegmentError,
        _decode_dictionary,
        _index_buffer,
        _read_psf,
        _resolve_dir,
        read_segment_metadata,
        read_segment_pandas,
    )

    if text_columns is None:
        text_columns = lucene_text_index_columns(segment_dir)
    if fst_columns is None:
        fst_columns = _unreadable_fst_columns(segment_dir)
    meta = read_segment_metadata(segment_dir)
    new_entries: list[tuple[str, str, str, bytes]] = []  # col, idx, ext, payload
    for col in text_columns:
        cm = meta.columns.get(col)
        if cm is None or cm.data_type != "STRING" or not cm.is_single_value:
            raise UnsupportedSegmentError(
                f"text index rebuild needs an SV STRING column; {col!r} is not"
            )
        values = read_segment_pandas(segment_dir, [col])[col]
        payload = encode_native_text_index(
            None if v is None else str(v) for v in values
        )
        new_entries.append((col, "text_index", ".nativetext.idx", payload))
    if fst_columns:
        psf = _read_psf(meta)
        for col in fst_columns:
            cm = meta.columns.get(col)
            if cm is None or not cm.has_dictionary or cm.data_type != "STRING":
                raise UnsupportedSegmentError(
                    f"FST rebuild needs a dictionary STRING column; {col!r} is not"
                )
            dvals = list(
                _decode_dictionary(_index_buffer(meta, psf, col, "dictionary"), cm)
            )
            payload = serialize_fst([(v, i) for i, v in enumerate(dvals)])
            new_entries.append((col, "fst_index", ".lucene.fst", payload))
    if not new_entries:
        return {"text": [], "fst": []}
    d = _resolve_dir(segment_dir)
    if os.path.isfile(os.path.join(d, INDEX_MAP_FILE)):  # v3 single-file store
        psf_path = os.path.join(d, INDEX_FILE)
        with open(os.path.join(d, INDEX_MAP_FILE), encoding="utf-8") as f:
            lines = [ln for ln in f.read().splitlines() if ln.strip()]
        replaced = {
            f"{col}.{idx}.{suffix}"
            for col, idx, _, _ in new_entries
            for suffix in ("startOffset", "size")
        }
        lines = [
            ln for ln in lines if ln.split("=", 1)[0].strip() not in replaced
        ]
        offset = os.path.getsize(psf_path)
        with open(psf_path, "ab") as f:
            for col, idx, _, payload in new_entries:
                lines.append(f"{col}.{idx}.startOffset = {offset}")
                lines.append(f"{col}.{idx}.size = {len(payload) + 8}")
                f.write(struct.pack(">Q", MAGIC_MARKER) + payload)
                offset += len(payload) + 8
        with open(os.path.join(d, INDEX_MAP_FILE), "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")
        with open(psf_path, "rb") as f:
            crc = zlib.crc32(f.read())
        with open(os.path.join(d, CREATION_META_FILE), "wb") as f:
            f.write(struct.pack(">qq", crc, int(time.time() * 1000)))
    else:  # pre-v3 per-file layout
        for col, _, ext, payload in new_entries:
            with open(os.path.join(d, col + ext), "wb") as f:
                f.write(payload)
    return {
        "text": [c for c, i, _, _ in new_entries if i == "text_index"],
        "fst": [c for c, i, _, _ in new_entries if i == "fst_index"],
    }
