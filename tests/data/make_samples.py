"""Write the GTgraph fixtures sample{0,1,4,5,128}.gr into this directory.

Each graph is built from planted strongly connected units, with arcs
between units that point only forward in a fixed order of the units, so
the SCC decomposition is known by construction. Each file matches its
reference sample's row in SURVEY.md §5 (V, E, #SCCs, largest SCC,
singletons); `tests/test_scc.py::test_fixture_shapes` checks that row
against the committed files. The output is deterministic:

    python tests/data/make_samples.py
"""

import os
import random

HERE = os.path.dirname(os.path.abspath(__file__))


def cycle(vs):
    return [(vs[i], vs[(i + 1) % len(vs)]) for i in range(len(vs))]


def sample0():
    # 3-cycle 1-2-5, source 4 whose arc (4, 1) is repeated; 3 and 6 arcless
    return 6, cycle([1, 2, 5]) + [(4, 1), (4, 1)]


def sample4():
    # two 3-SCCs {1,2,3} and {5,6,7} (cycle + one reverse arc each);
    # order 4 < {1,2,3} < {5,6,7} < 8
    arcs = cycle([1, 2, 3]) + [(2, 1)] + cycle([5, 6, 7]) + [(6, 5)]
    return 8, arcs + [(4, 1), (3, 5), (1, 6), (7, 8), (2, 8)]


def sample5():
    # 11-cycle 2..12 with 4 chords, source 1 into it, sink 13 out of it
    arcs = cycle(list(range(2, 13))) + [(2, 7), (5, 10), (8, 3), (11, 4)]
    return 13, arcs + [(1, 2), (12, 13)]


def sample1():
    # 30-vertex SCC 2..31 as a cycle of 8 layers (sizes 4,4,4,4,4,4,3,3)
    # with every arc from layer i to layer i+1: from any pivot, BFS needs
    # 8 hops each way. Source 1 feeds 19 of its vertices, 18 feed sink 32.
    sizes = (4, 4, 4, 4, 4, 4, 3, 3)
    layers, nxt = [], 2
    for s in sizes:
        layers.append(list(range(nxt, nxt + s)))
        nxt += s
    arcs = [
        (u, w)
        for i, layer in enumerate(layers)
        for u in layer
        for w in layers[(i + 1) % len(layers)]
    ]
    scc = list(range(2, 32))
    return 32, arcs + [(1, v) for v in scc[:19]] + [(v, 32) for v in scc[-18:]] + [(1, 32)]


def sample128(seed=128, n_edges=374):
    # a 113-ring with a triangle chord r[k] -> r[k+2] every 3rd k and
    # seeded random chords, a 3-cycle, a 2-cycle and 10 singletons on
    # shuffled ids; 64 arcs between units go forward in a seeded order
    rng = random.Random(seed)
    ids = list(range(1, 129))
    rng.shuffle(ids)
    ring, tri, pair, singles = ids[:113], ids[113:116], ids[116:118], ids[118:]
    arcs = cycle(ring) + cycle(tri) + cycle(pair)
    arcs += [(ring[k], ring[(k + 2) % 113]) for k in range(0, 113, 3)]
    units = [ring, tri, pair] + [[v] for v in singles]
    rng.shuffle(units)
    seen = set(arcs)
    forward = 0
    while forward < 64:
        i, j = sorted(rng.sample(range(len(units)), 2))
        a = (rng.choice(units[i]), rng.choice(units[j]))
        if a not in seen:
            seen.add(a)
            arcs.append(a)
            forward += 1
    while len(arcs) < n_edges:
        a = tuple(rng.sample(ring, 2))
        if a not in seen:
            seen.add(a)
            arcs.append(a)
    return 128, arcs


def write(name, v, arcs, note):
    with open(os.path.join(HERE, name), "w") as f:
        f.write(f"c {note}\nc written by tests/data/make_samples.py\n")
        f.write(f"p sp {v} {len(arcs)}\n")
        for s, d in arcs:
            f.write(f"a {s} {d} 1\n")


if __name__ == "__main__":
    for name, build, note in (
        ("sample0.gr", sample0, "3-cycle, duplicate arc (4,1), arcless 3 and 6"),
        ("sample4.gr", sample4, "two 3-SCCs joined by forward arcs, 2 singletons"),
        ("sample5.gr", sample5, "11-cycle with chords, one source, one sink"),
        ("sample1.gr", sample1, "30-vertex SCC as an 8-layer cycle, one source, one sink"),
        ("sample128.gr", sample128, "113-ring with chords, 3-cycle, 2-cycle, 10 singletons"),
    ):
        write(name, *build(), note)
