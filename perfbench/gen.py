"""Seeded corpus generator in the parser's YAML ontology dialect.

Everything here is pure Python and depends only on the seed and the
workload's generator parameters (``workloads.json``). The generated
documents are handed to ``sources.corpus.write_corpus_parquet`` as
``fixture_texts``, so the library's own fork / giant-repo / noise
synthesis lays out the source table and the program only ever sees the
generated parquet files.

Document families:

* ``kg``     — a class hierarchy of fixed depth, individuals arranged in
  transitive ``partOf`` chains, literal facts, ``some``/``value``
  restrictions and a chain of SWRL rules over ``partOf``;
* ``puzzle`` — a small logic grid (two OneOf classes, one functional and
  inverse-functional property, all-different individuals) whose last
  assignment only the DL model search can deduce;
* ``punned`` — groups of documents sharing one ontology IRI in which the
  same local name is a class in some documents and an individual in
  others, so entity linking produces overlapping alias groups and runs
  CC;
* ``bad``    — malformed documents (YAML syntax error or a reference to
  an undeclared class) that must surface as error rows.
"""

from __future__ import annotations

import os
import random
from typing import Dict, List, Tuple

BASE_NS = "https://bench.example.org"

_SYLLABLES = (
    "ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "xe", "zu",
    "ba", "de", "fo", "gu", "hi", "jo", "pe", "qu", "wa", "yo",
)


def _word(rng: random.Random, n: int = 3) -> str:
    return "".join(rng.choice(_SYLLABLES) for _ in range(n))


def kg_doc(rng: random.Random, ns: str, p: dict) -> str:
    """One knowledge document. Counts come from ``p`` only, so the triple
    count of a document does not depend on the seed; names, hierarchy
    shape and fact targets do."""
    depth, width = p["hierarchy_depth"], p["classes_per_level"]
    n_ind, chain = p["individuals"], p["part_chain"]
    tag = _word(rng)
    levels: List[List[str]] = []
    lines = [f'- iri: "{ns}"', "- multiple_owl_classes:"]
    for lvl in range(depth):
        row = []
        for j in range(width):
            name = f"{tag.capitalize()}L{lvl}C{j}{_word(rng, 2)}"
            parent = '"owl:Thing"' if lvl == 0 else rng.choice(levels[-1])
            lines += [f"    - {name}:", f"        SubClassOf: {parent}"]
            row.append(name)
        levels.append(row)
    root, leaves = levels[0][0], levels[-1]
    n_rules = p["rule_chain"]
    props = ["partOf"] + [f"link{k}" for k in range(1, n_rules + 1)]
    for prop in props:
        lines += [
            "- owl_object_property:",
            f"    {prop}:",
            f"        Domain: {root}",
            f"        Range: {root}",
        ]
        if prop == "partOf":
            lines += ["        Characteristics:", "            - Transitive"]
    lines += [
        "- owl_data_property:",
        "    score:",
        f"        Domain: {root}",
        "        Range: float",
        "- owl_data_property:",
        "    label:",
        f"        Domain: {root}",
        "        Range: str",
    ]
    inds = [f"{_word(rng)}{i}" for i in range(n_ind)]
    by_class: Dict[str, List[str]] = {}
    for ind in inds:
        by_class.setdefault(rng.choice(leaves), []).append(ind)
    for cls, names in sorted(by_class.items()):
        lines += [
            "- owl_multiple_individuals:",
            f"    names: [{', '.join(names)}]",
            "    types:",
            f"        - {cls}",
        ]
    lines += ["- property_facts:", "    partOf:", "        Facts:"]
    for i in range(n_ind - 1):
        if (i + 1) % chain:
            lines.append(f"            - {inds[i]}: {inds[i + 1]}")
    lines += ["    score:", "        Facts:"]
    for ind in inds:
        lines.append(f"            - {ind}: {rng.randint(1, 999) / 1000}")
    lines += ["    label:", "        Facts:"]
    for ind in inds[: max(1, n_ind // 2)]:
        lines.append(f'            - {ind}: "{_word(rng, 4)}"')
    for _ in range(p["restrictions"]):
        lines += [
            "- restriction:",
            f"    Subject: {rng.choice(leaves)}",
            "    Body:",
            "        partOf:",
            f"            some: {rng.choice(levels[min(1, depth - 1)])}",
        ]
        a, b = rng.sample(inds, 2)
        lines += [
            "- restriction:",
            f"    Subject: {a}",
            "    Body:",
            "        partOf:",
            f"            value: {b}",
        ]
    if n_rules:
        lines += [
            "- swrl_rule:",
            "    name: chain1",
            '    src: "partOf(?a, ?b), partOf(?b, ?c) -> link1(?a, ?c)"',
        ]
        for k in range(2, n_rules + 1):
            lines += [
                "- swrl_rule:",
                f"    name: chain{k}",
                f'    src: "link{k - 1}(?a, ?b), partOf(?b, ?c) -> link{k}(?a, ?c)"',
            ]
    return "\n".join(lines) + "\n"


def puzzle_doc(rng: random.Random, ns: str, n: int) -> str:
    """An n-person / n-house grid. n-1 assignments are given; the last
    one follows from functionality, inverse functionality and
    all-different, which only the DL model search derives."""
    people = [f"{_word(rng, 2)}P{i}" for i in range(n)]
    houses = [f"{_word(rng, 2)}H{i}" for i in range(n)]
    perm = list(range(n))
    rng.shuffle(perm)
    lines = [
        f'- iri: "{ns}"',
        "- owl_multiple_individuals:",
        f"    names: [{', '.join(people)}]",
        '    types: ["owl:Thing"]',
        "- owl_multiple_individuals:",
        f"    names: [{', '.join(houses)}]",
        '    types: ["owl:Thing"]',
        "- owl_class:",
        "    Person:",
        "        EquivalentTo:",
        f"            OneOf: [{', '.join(people)}]",
        "- owl_class:",
        "    House:",
        "        EquivalentTo:",
        f"            OneOf: [{', '.join(houses)}]",
        "- owl_object_property:",
        "    livesIn:",
        "        Characteristics: [Functional, InverseFunctional]",
        "        Domain: [Person]",
        "        Range: [House]",
        "- property_facts:",
        "    livesIn:",
        "        Facts:",
    ]
    for i in range(n - 1):
        lines.append(f"            - {people[i]}: {houses[perm[i]]}")
    lines += [
        "- restriction:",
        "    Subject: Person",
        "    Body:",
        "        livesIn:",
        "            some: House",
        "- different_individuals:",
        "    - __all__",
    ]
    return "\n".join(lines) + "\n"


def punned_doc(rng: random.Random, ns: str, shared: List[str], as_class: bool) -> str:
    """A document of a shared-namespace group: the ``shared`` names are
    classes here when ``as_class`` and individuals otherwise."""
    own = [f"{_word(rng)}Own{i}" for i in range(3)]
    lines = [f'- iri: "{ns}"', "- multiple_owl_classes:", "    - Anchor:", '        SubClassOf: "owl:Thing"']
    if as_class:
        for name in shared:
            lines += [f"    - {name}:", "        SubClassOf: Anchor"]
        individuals, cls = own, shared[0]
    else:
        individuals, cls = shared + own, "Anchor"
    lines += [
        "- owl_multiple_individuals:",
        f"    names: [{', '.join(individuals)}]",
        "    types:",
        f"        - {cls}",
    ]
    return "\n".join(lines) + "\n"


def bad_doc(rng: random.Random, ns: str, k: int) -> str:
    name = _word(rng).capitalize()
    if k % 2 == 0:  # YAML syntax error
        return f'- iri: "{ns}"\n- owl_class:\n    {name}:\n      SubClassOf: [unclosed\n'
    # well-formed YAML, but the type refers to an undeclared class
    return f'- iri: "{ns}"\n- owl_individual:\n    {name.lower()}:\n      types:\n        - No{name}\n'


def document_set(seed: int, p: dict, salt: str = "") -> Tuple[Dict[str, str], Dict[str, str], List[str]]:
    """(distinct texts, texts to fork, malformed paths) for one seed.

    Paths double as corpus keys: ``write_corpus_parquet`` files every
    text under repo ``org/demo`` at this path."""
    rng = random.Random(f"{seed}:{salt}")
    distinct: Dict[str, str] = {}
    forked: Dict[str, str] = {}
    bad: List[str] = []
    for i in range(p["kg_docs"]):
        path = f"kg/{salt}d{i:04d}.owl.yml"
        text = kg_doc(rng, f"{BASE_NS}/kg/{seed}/{salt}{i}#", p)
        (forked if i < p["fork_sources"] else distinct)[path] = text
    for i in range(p["puzzle_docs"]):
        path = f"puzzle/{salt}p{i:04d}.owl.yml"
        text = puzzle_doc(rng, f"{BASE_NS}/puzzle/{seed}/{salt}{i}#", p["puzzle_size"])
        (forked if i < p["puzzle_fork_sources"] else distinct)[path] = text
    # one shared name list for every group: group 0 declares the names
    # only as classes, the other groups half as classes and half as
    # individuals, so an IRI of group g > 0 falls in two link-key groups
    # with different minimum IRIs and canonical_nodes has to run CC
    shared = [f"Shared{j}{_word(rng, 2)}" for j in range(p["punned_names"])]
    for g in range(p["punned_groups"]):
        for k in range(p["punned_docs_per_group"]):
            path = f"punned/{salt}g{g:03d}_{k}.owl.yml"
            ns = f"{BASE_NS}/shared/{seed}/{salt}{g}#"
            distinct[path] = punned_doc(rng, ns, shared, g == 0 or k % 2 == 0)
    for k in range(p["malformed_docs"]):
        path = f"bad/{salt}b{k:03d}.owl.yml"
        distinct[path] = bad_doc(rng, f"{BASE_NS}/bad/{seed}/{salt}{k}#", k)
        bad.append(path)
    return distinct, forked, bad


def write_source(out_dir: str, seed: int, distinct: Dict[str, str], forked: Dict[str, str], p: dict) -> int:
    """Write the source table as parquet files under ``out_dir`` through
    the library's corpus writer; returns the row count."""
    from yamlpyowl_spark.sources.corpus import write_corpus_parquet

    os.makedirs(out_dir, exist_ok=True)
    n = write_corpus_parquet(
        os.path.join(out_dir, "part-distinct.parquet"),
        fixture_texts=distinct, n_forks=0, noise=True, seed=seed,
    )
    if forked:
        n += write_corpus_parquet(
            os.path.join(out_dir, "part-forks.parquet"),
            fixture_texts=forked,
            n_forks=p["forks_per_source"],
            giant_repo_fraction=p["giant_repo_share"],
            noise=False,
            seed=seed,
        )
    return n
