"""Pattern graphs — tiny driver-side query objects.

Semantic parity with the reference's ``SmallGraph`` (core/Graph.hh:36-45):
hashmap adjacency + anti-edge adjacency + per-vertex labels, vertices
numbered 1..n. Patterns are the *queries* of this engine — never
DataFrames. File format parity (core/Graph.hh:323-380 and query/*.graph):
one edge per line, ``u [lu] v [lv] [anti]`` — 2 ints = unlabelled edge,
3 ints = unlabelled anti-edge, 4 ints = labelled edge, 5 ints = labelled
anti-edge. Label -1 is the wildcard ("partially labelled").

Labelling modes mirror core/Graph.hh:25-34.
"""

from __future__ import annotations

import itertools
from enum import Enum
from pathlib import Path


class Labelling(str, Enum):
    UNLABELLED = "unlabelled"
    LABELLED = "labelled"
    PARTIALLY_LABELLED = "partially_labelled"
    DISCOVER_LABELS = "discover_labels"


class SmallGraph:
    """Undirected pattern graph with optional anti-edges and labels."""

    def __init__(
        self,
        edges: list[tuple[int, int]] | None = None,
        anti_edges: list[tuple[int, int]] | None = None,
        labels: dict[int, int] | None = None,
        num_vertices: int | None = None,
    ):
        self.adj: dict[int, set[int]] = {}
        self.anti_adj: dict[int, set[int]] = {}
        self.labels: dict[int, int] = dict(labels or {})
        for u, v in edges or []:
            self.add_edge(u, v)
        for u, v in anti_edges or []:
            self.add_anti_edge(u, v)
        if num_vertices:
            for v in range(1, num_vertices + 1):
                self.adj.setdefault(v, set())
                self.anti_adj.setdefault(v, set())

    # -- construction -----------------------------------------------------
    def add_edge(self, u: int, v: int) -> "SmallGraph":
        if u == v:
            raise ValueError("self-loop in pattern")
        self.adj.setdefault(u, set()).add(v)
        self.adj.setdefault(v, set()).add(u)
        self.anti_adj.setdefault(u, set())
        self.anti_adj.setdefault(v, set())
        return self

    def add_anti_edge(self, u: int, v: int) -> "SmallGraph":
        if u == v:
            raise ValueError("self-loop in pattern")
        self.anti_adj.setdefault(u, set()).add(v)
        self.anti_adj.setdefault(v, set()).add(u)
        self.adj.setdefault(u, set())
        self.adj.setdefault(v, set())
        return self

    def set_label(self, v: int, label: int) -> "SmallGraph":
        self.labels[v] = label
        return self

    @classmethod
    def from_file(cls, path: str | Path) -> "SmallGraph":
        g = cls()
        for line in Path(path).read_text().splitlines():
            parts = line.split()
            if not parts:
                continue
            nums = [int(x) for x in parts]
            if len(nums) == 2:
                g.add_edge(nums[0], nums[1])
            elif len(nums) == 3:
                g.add_anti_edge(nums[0], nums[1])
            elif len(nums) in (4, 5):
                u, lu, v, lv = nums[:4]
                (g.add_anti_edge if len(nums) == 5 else g.add_edge)(u, v)
                g.set_label(u, lu)
                g.set_label(v, lv)
            else:
                raise ValueError(f"bad pattern line: {line!r}")
        return g

    # -- views -------------------------------------------------------------
    @property
    def vertices(self) -> list[int]:
        return sorted(set(self.adj) | set(self.anti_adj) | set(self.labels))

    @property
    def num_vertices(self) -> int:
        return len(self.vertices)

    def true_edges(self) -> list[tuple[int, int]]:
        return sorted(
            (min(u, v), max(u, v)) for u in self.adj for v in self.adj[u] if u < v
        )

    def anti_edge_list(self) -> list[tuple[int, int]]:
        return sorted(
            (min(u, v), max(u, v))
            for u in self.anti_adj
            for v in self.anti_adj[u]
            if u < v
        )

    @property
    def num_true_edges(self) -> int:
        return len(self.true_edges())

    def has_anti_edges(self) -> bool:
        return any(self.anti_adj.values())

    def anti_vertices(self) -> list[int]:
        """Vertices with only anti-edges (core/Graph.hh:439-442)."""
        return [
            v
            for v in self.vertices
            if not self.adj.get(v) and self.anti_adj.get(v)
        ]

    def labelling(self) -> Labelling:
        if not self.labels:
            return Labelling.UNLABELLED
        vals = set(self.labels.values())
        if -1 in vals:
            return Labelling.PARTIALLY_LABELLED
        if len(self.labels) < self.num_vertices:
            return Labelling.LABELLED  # unlabelled vertices = label wildcard? keep strict
        return Labelling.LABELLED

    def is_connected(self) -> bool:
        vs = self.vertices
        if not vs:
            return True
        seen = {vs[0]}
        stack = [vs[0]]
        while stack:
            u = stack.pop()
            for w in self.adj.get(u, ()):
                if w not in seen:
                    seen.add(w)
                    stack.append(w)
        return len(seen) == len(vs)

    def relabel(self, perm: dict[int, int]) -> "SmallGraph":
        """New graph with vertices renamed via perm (a bijection)."""
        g = SmallGraph()
        for u, v in self.true_edges():
            g.add_edge(perm[u], perm[v])
        for u, v in self.anti_edge_list():
            g.add_anti_edge(perm[u], perm[v])
        for v, l in self.labels.items():
            g.set_label(perm[v], l)
        for v in self.vertices:
            g.adj.setdefault(perm[v], set())
            g.anti_adj.setdefault(perm[v], set())
        return g

    def copy(self) -> "SmallGraph":
        return self.relabel({v: v for v in self.vertices})

    def to_string(self) -> str:
        parts = []
        for u, v in self.true_edges():
            lu, lv = self.labels.get(u), self.labels.get(v)
            parts.append(
                f"{u}-{v}" if lu is None and lv is None else f"{u}[{lu}]-{v}[{lv}]"
            )
        for u, v in self.anti_edge_list():
            parts.append(f"{u}!{v}")
        return ",".join(parts)

    def __repr__(self) -> str:
        return f"SmallGraph({self.to_string()})"

    def __eq__(self, other) -> bool:
        if not isinstance(other, SmallGraph):
            return NotImplemented
        from peregrine_spark.patterns.canonical import canonical_form

        return canonical_form(self) == canonical_form(other)

    def __hash__(self) -> int:
        from peregrine_spark.patterns.canonical import canonical_form

        return hash(canonical_form(self))


def _bundled_g6_text(size: int) -> str | None:
    """Bundled graph{size}c.g6 content, or None. importlib.resources first
    (works when the package ships as a spark-submit --py-files zip), plain
    path as fallback."""
    name = f"graph{size}c.g6"
    try:
        from importlib import resources

        ref = resources.files("peregrine_spark.patterns").joinpath("data", name)
        if ref.is_file():
            return ref.read_text()
    except Exception:
        pass
    p = Path(__file__).parent / "data" / name
    return p.read_text() if p.exists() else None


class PatternGenerator:
    """Pattern builders — parity with core/PatternGenerator.cc."""

    VERTEX_BASED = True
    EDGE_BASED = False

    @staticmethod
    def clique(n: int) -> SmallGraph:
        g = SmallGraph()
        for u, v in itertools.combinations(range(1, n + 1), 2):
            g.add_edge(u, v)
        return g

    @staticmethod
    def star(n: int) -> SmallGraph:
        """Centre 1, leaves 2..n (n total vertices)."""
        g = SmallGraph()
        for v in range(2, n + 1):
            g.add_edge(1, v)
        return g

    @staticmethod
    def chain(n: int) -> SmallGraph:
        g = SmallGraph()
        for v in range(1, n):
            g.add_edge(v, v + 1)
        return g

    @staticmethod
    def cycle(n: int) -> SmallGraph:
        g = PatternGenerator.chain(n)
        g.add_edge(n, 1)
        return g

    # in-process memo for the (expensive above size 6) enumerations
    _all_cache: dict = {}

    @staticmethod
    def _trees(size: int) -> list[SmallGraph]:
        """All trees on ``size`` vertices, one per isomorphism class: every
        tree is a smaller tree plus a leaf, so grow recursively with
        canonical dedup."""
        from peregrine_spark.patterns.canonical import canonical_form

        if size < 2:
            raise ValueError("trees need >= 2 vertices (patterns need edges)")
        if size == 2:
            return [SmallGraph(edges=[(1, 2)])]
        seen: dict = {}
        for t in PatternGenerator._trees(size - 1):
            for host in t.vertices:
                h = t.copy().add_edge(host, size)
                seen.setdefault(canonical_form(h), h)
        return list(seen.values())

    @staticmethod
    def _connected(size: int) -> list[SmallGraph]:
        """All connected unlabelled graphs on ``size`` vertices (A001349:
        ..., 6, 21, 112, 853, 11117, 261080 for sizes 4..9), by orderly
        levelwise generation: level m-1 -> level m by adding one edge
        (complete: every connected graph with a cycle stays connected after
        removing a cycle edge), seeded from the trees. The reference instead
        ships nauty-generated g6 files (core/PatternGenerator.cc:477-548,
        core/graphs/graph{3..9}c.g6); ours are self-generated — see
        ``from_g6`` for reading nauty data directly."""
        from peregrine_spark.patterns.canonical import canonical_form

        current = {canonical_form(t): t for t in PatternGenerator._trees(size)}
        out = dict(current)
        max_edges = size * (size - 1) // 2
        pairs = list(itertools.combinations(range(1, size + 1), 2))
        for _m in range(size, max_edges + 1):
            nxt: dict = {}
            for g in current.values():
                present = set(g.true_edges())
                for u, v in pairs:
                    if (u, v) not in present:
                        h = g.copy().add_edge(u, v)
                        cf = canonical_form(h)
                        if cf not in nxt:
                            nxt[cf] = h
            out.update(nxt)
            current = nxt
        return list(out.values())

    @staticmethod
    def all(size: int, vertex_based: bool = True, anti_edges: bool = True) -> list[SmallGraph]:
        """All connected patterns with ``size`` vertices, one per isomorphism
        class (parity with core/PatternGenerator.cc:477-548, which reads
        nauty g6 files graph{3..9}c.g6).

        A bundled self-generated g6 file (patterns/data/graph{n}c.g6, sizes
        7-9) is read when present; otherwise orderly levelwise generation
        (``_connected`` — milliseconds up to size 6, but minutes at size 8
        and hours at size 9; drop a nauty graph9c.g6 into patterns/data/ to
        make size 9 instant).

        vertex_based + anti_edges: add anti-edges between all non-adjacent
        pairs (vertex-induced semantics). Otherwise edge-induced patterns.
        """
        from peregrine_spark.patterns.canonical import canonical_form

        if size > 9:
            raise ValueError("patterns supported up to size 9 (reference parity)")
        out = PatternGenerator._all_cache.get(size)
        if out is None:
            text = _bundled_g6_text(size)
            if text is not None:
                # bundled files are pre-sorted by (num_true_edges,
                # canonical_form) at generation time (tools/gen_patterns.py)
                # — trusting the order avoids 261k canonical-form calls for
                # size 9 on every load
                out = [
                    PatternGenerator.from_g6(line)
                    for line in text.splitlines()
                    if line.strip()
                ]
            else:
                out = sorted(
                    PatternGenerator._connected(size),
                    key=lambda g: (g.num_true_edges, canonical_form(g)),
                )
            PatternGenerator._all_cache[size] = out
        if vertex_based and anti_edges:
            out2 = []
            for g in out:
                h = g.copy()
                present = set(g.true_edges())
                for u, v in itertools.combinations(g.vertices, 2):
                    if (min(u, v), max(u, v)) not in present:
                        h.add_anti_edge(u, v)
                out2.append(h)
            return out2
        return [g.copy() for g in out]

    # -- graph6 format (public nauty format: McKay & Piperno, formats.txt) --

    @staticmethod
    def from_g6(line: str) -> SmallGraph:
        """Parse one graph6 line: byte N+63 (N <= 62), then the upper
        triangle x(0,1), x(0,2), x(1,2), x(0,3), ... packed big-endian into
        6-bit groups, each + 63. Vertices come out 1-based."""
        s = line.strip()
        if not s:
            raise ValueError("empty g6 line")
        vals = [ord(c) - 63 for c in s]
        if any(v < 0 or v > 63 for v in vals):
            raise ValueError(f"bad g6 characters: {line!r}")
        n = vals[0]
        if n == 63:
            raise ValueError("g6 graphs with >= 63 vertices not supported")
        bits = []
        for v in vals[1:]:
            bits.extend((v >> (5 - i)) & 1 for i in range(6))
        need = n * (n - 1) // 2
        if len(bits) < need:
            raise ValueError("truncated g6 line")
        g = SmallGraph(num_vertices=n)
        idx = 0
        for j in range(1, n):
            for i in range(j):
                if bits[idx]:
                    g.add_edge(i + 1, j + 1)
                idx += 1
        return g

    @staticmethod
    def to_g6(g: SmallGraph) -> str:
        """Serialize to one graph6 line (vertices renumbered 1..n in sorted
        order)."""
        vs = g.vertices
        n = len(vs)
        if n > 62:
            raise ValueError("g6 output supported up to 62 vertices")
        pos = {v: i for i, v in enumerate(vs)}
        present = {(pos[u], pos[v]) for u, v in g.true_edges()}
        bits = []
        for j in range(1, n):
            for i in range(j):
                bits.append(1 if (i, j) in present or (j, i) in present else 0)
        while len(bits) % 6:
            bits.append(0)
        out = [chr(n + 63)]
        for k in range(0, len(bits), 6):
            val = 0
            for b in bits[k : k + 6]:
                val = (val << 1) | b
            out.append(chr(val + 63))
        return "".join(out)
