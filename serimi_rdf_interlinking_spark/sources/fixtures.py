"""Deterministic synthetic fixtures (FIXTURES.md).

Spark-free generators producing plain row lists; tests wrap them in
DataFrames. Content features exercise the cited reference behaviors:
entropy spread (A1/A2), long-text predicates (F9), property overflow
(A5), IFP-like ids (A6), homonyms across pseudo-classes (the
disambiguation workload), surface variants (T1/T2/T6, F8), redirects +
sameAs (F13/J5, connected components), and web pages embedding the same
facts for the extraction stage (byte-identical text per url).
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

from .triples import OWL_SAMEAS, RDF_TYPE, RDFS_LABEL, WIKI_REDIRECT  # noqa: F401

SRC = "http://src.test/resource/"
TGT = "http://tgt.test/resource/"
SRC_ONT = "http://src.test/ontology/"
TGT_ONT = "http://tgt.test/ontology/"

CLASS_CITY = "http://src.test/class/City"

_SYL1 = ["bar", "cor", "dal", "fen", "gar", "hol", "jas", "kel", "lor", "mar",
         "nor", "pol", "quil", "ros", "sal", "tor", "ulm", "ver", "wes", "zan"]
_SYL2 = ["ia", "ton", "ville", "berg", "field", "mont", "ford", "wick", "dale", "more"]
_COUNTRIES = ["argovia", "belmora", "cordia", "dalmena", "estria"]
_REGIONS = ["north", "south", "east", "west", "central"]
_FIRST = ["alda", "bruno", "celia", "dario", "elena", "fabio", "greta", "hugo",
          "irene", "jonas", "karla", "lucas", "mira", "nestor", "olga", "pavel"]


@dataclass
class Fixture:
    source: list[tuple] = field(default_factory=list)   # (s,p,o,o_is_uri,is_bnode)
    target: list[tuple] = field(default_factory=list)
    gold: list[tuple[str, str]] = field(default_factory=list)
    pages: list[tuple] = field(default_factory=list)     # (url, ts_sec, html, text, lang)
    expected_extractions: list[tuple] = field(default_factory=list)  # (url,s,p,o)
    sameas: list[tuple[str, str]] = field(default_factory=list)


def _city_name(rng: random.Random, three_syllables: bool = False) -> str:
    if three_syllables:
        return rng.choice(_SYL1) + rng.choice(_SYL1) + rng.choice(_SYL2)
    return rng.choice(_SYL1) + rng.choice(_SYL2)


def _variant(rng: random.Random, name: str) -> tuple[str, str | None]:
    """(primary label, optional extra label) — surface variants the
    string kernels must absorb (FIXTURES.md §2). Accented forms come as
    an ADDITIONAL label next to the clean one: under the reference's
    byte-level normalization an accented character folds to a space
    (extension_module.rb:47 applies /\\W/ before removeaccents), so an
    accent-only single-token label is unfindable by construction — for
    both engines. Real datasets carry multiple rdfs:labels."""
    roll = rng.random()
    if roll < 0.25:
        return name.title(), None
    if roll < 0.40:
        return name.replace(" ", "_"), None
    if roll < 0.55:
        return name + " (settlement)", None   # paren-strip F8
    if roll < 0.65:
        parts = name.split()
        if len(parts) >= 2:
            return parts[0][0] + " " + " ".join(parts[1:]), None  # initial, T6
        return name, None
    if roll < 0.75:
        return name, name.replace("a", "á", 1)  # accent alias, T2
    return name, None


def build_promotion_divergence_fixture() -> Fixture:
    """Predicate-heterogeneous fixture where per-hit cascade promotion
    (search_module.rb:107-108) CHANGES RETRIEVAL — built to measure the
    batch mode's frozen-cascade divergence (SURVEY §7, round-2 verdict
    #4).

    Construction:
    * e0..e3 (warm-up ranks 0-3): labels "warmhub <uniq>" — the shared
      token gives them the top blocking ranks; matches live under
      tgt:name, anchoring `name` at the front of the learned cascade.
    * e4 (warm-up rank 4): match lives ONLY under tgt:alias — hooks
      `alias` into the learned search predicates, behind `name`.
    * post-warm-up chunks (chunk=2) pair a DECOY entity with an
      ALIAS-ONLY entity, ranked so the alias-only one is searched
      LAST in its chunk (single-token labels, lexicographic rank):
      - decoy entity: the CORRECT target carries the label under
        tgt:alias, while a DECOY target carries the identical label
        under tgt:name. Whichever of name/alias is searched first
        wins (break-on-first-hit).
      - alias-only entity: match only under tgt:alias — its hit
        promotes alias; being last in the chunk, alias ends the
        chunk at the cascade front.
    With the frozen cascade (batch), every decoy entity resolves to
    its decoy via the name tier. With per-hit promotion (sequential),
    only the FIRST chunk's decoy entity goes wrong; from chunk 2 on,
    alias is searched first and the correct targets win.
    Correct targets share country/population with their source, so RDS
    also has signal; decoys share nothing."""
    fx = Fixture()
    NAME, ALIAS = f"{TGT_ONT}name", f"{TGT_ONT}alias"

    def add_source(i: int, label: str) -> str:
        s = f"{SRC}city/{i}"
        fx.source.append((s, RDF_TYPE, CLASS_CITY, True, False))
        fx.source.append((s, RDFS_LABEL, label, False, False))
        fx.source.append((s, f"{SRC_ONT}country", _COUNTRIES[i % 5], False, False))
        fx.source.append((s, f"{SRC_ONT}population", str(10000 + i * 137), False, False))
        return s

    def add_target(i: int, label: str, pred: str) -> str:
        t = f"{TGT}city/{i}"
        fx.target.append((t, RDF_TYPE, f"{TGT}class/Settlement", True, False))
        fx.target.append((t, pred, label, False, False))
        fx.target.append((t, f"{TGT_ONT}country", _COUNTRIES[i % 5], False, False))
        fx.target.append((t, f"{TGT_ONT}population", str(10000 + i * 137), False, False))
        return t

    uniq = ["bastion", "citadel", "dockyard", "esplanade"]
    for i in range(4):
        label = f"warmhub {uniq[i]}"
        s = add_source(i, label)
        t = add_target(i, label, NAME)
        if i >= 2:
            # alias must appear in >= 40% of warm-up candidate groups
            # (A1's group-presence floor) to become a searchable
            # predicate; distinct label-like values keep its entropy
            # score near 0 so it survives the <= mean cut.
            fx.target.append((t, ALIAS, label + " old", False, False))
        fx.gold.append((s, t))
    s = add_source(4, "warmhub harborgate")
    fx.gold.append((s, add_target(4, "warmhub harborgate", ALIAS)))

    # (decoy, alias-only) pairs; single-token labels rank after the
    # freq-5 "warmhub" token, in lexicographic order — so each chunk of
    # 2 is (decoy entity, alias-only entity) in that search order.
    pairs = [
        ("cdecoyone", "czaliasone"),
        ("ddecoytwo", "dzaliastwo"),
        ("edecoythree", "ezaliasthree"),
        ("fdecoyfour", "fzaliasfour"),
    ]
    i = 5
    for decoy_label, alias_label in pairs:
        s = add_source(i, decoy_label)
        fx.gold.append((s, add_target(i, decoy_label, ALIAS)))
        d = f"{TGT}decoy/{i}"
        fx.target.append((d, RDF_TYPE, f"{TGT}class/Hamlet", True, False))
        fx.target.append((d, NAME, decoy_label, False, False))
        fx.target.append((d, f"{TGT_ONT}motto", f"motto {i}", False, False))
        i += 1
        s = add_source(i, alias_label)
        fx.gold.append((s, add_target(i, alias_label, ALIAS)))
        i += 1
    return fx


def build_interlinking_fixture(n_entities: int = 60, seed: int = 7,
                               homonym_rate: float = 0.25) -> Fixture:
    """Two RDF datasets + gold alignment + web pages.

    Source entities are cities of CLASS_CITY; targets carry the same
    facts under a different vocabulary plus pseudo-class noise
    (homonym rivers/persons) that RDS must reject.
    """
    rng = random.Random(seed)
    fx = Fixture()

    # distinct base names; a fraction reused by homonym noise entities.
    # the 2-syllable space has only len(_SYL1)*len(_SYL2) combinations —
    # switch to 3 syllables once it is half-exhausted, and past HALF the
    # 3-syllable space append a deterministic numeric suffix: rejection
    # sampling over a near-exhausted space otherwise never terminates
    # (pre-round-5 bug: n_entities > ~2200 hung forever). The suffix
    # branch cannot collide (syllable-only names carry no digits) and
    # small-n fixtures are byte-identical to before.
    names: list[str] = []
    seen = set()
    two_syl_cap = len(_SYL1) * len(_SYL2) // 2
    three_syl_cap = two_syl_cap + len(_SYL1) * len(_SYL1) * len(_SYL2) // 2
    while len(names) < n_entities:
        nm = _city_name(rng, three_syllables=len(names) >= two_syl_cap)
        if len(names) >= three_syl_cap:
            nm = f"{nm}{len(names)}"
        if nm not in seen:
            seen.add(nm)
            names.append(nm)

    for i, name in enumerate(names):
        s = f"{SRC}city/{i}"
        t = f"{TGT}city/{i}"
        country = _COUNTRIES[i % len(_COUNTRIES)]
        region = _REGIONS[(i // len(_COUNTRIES)) % len(_REGIONS)]
        pop = str(10000 + i * 137)
        founded = f"{1400 + (i * 13) % 500}-0{1 + i % 9}-1{i % 9}"

        label, extra_label = _variant(rng, name)
        fx.source.append((s, RDF_TYPE, CLASS_CITY, True, False))
        fx.source.append((s, RDFS_LABEL, label, False, False))
        if extra_label:
            fx.source.append((s, RDFS_LABEL, extra_label, False, False))
        fx.source.append((s, f"{SRC_ONT}country", country, False, False))
        fx.source.append((s, f"{SRC_ONT}region", region, False, False))
        fx.source.append((s, f"{SRC_ONT}population", pop, False, False))
        fx.source.append((s, f"{SRC_ONT}founded", founded, False, False))
        # long-text predicate (F9) on a third of the entities
        if i % 3 == 0:
            fx.source.append(
                (s, f"{SRC_ONT}abstract",
                 f"{name} is a settlement in {country}. " + ("lorem ipsum " * 40),
                 False, False)
            )

        has_target = i % 10 != 9  # ~10% of sources have no match (precision test)
        if has_target:
            fx.target.append((t, RDF_TYPE, f"{TGT}class/Settlement", True, False))
            fx.target.append((t, f"{TGT_ONT}name", name, False, False))
            fx.target.append((t, f"{TGT_ONT}country", country, False, False))
            fx.target.append((t, f"{TGT_ONT}region", region, False, False))
            fx.target.append((t, f"{TGT_ONT}population", pop, False, False))
            fx.target.append((t, f"{TGT_ONT}uid", f"Q{100000 + i}", False, False))  # IFP A6
            fx.gold.append((s, t))

        # homonym noise: a river and/or person sharing the name
        if rng.random() < homonym_rate:
            r = f"{TGT}river/{i}"
            fx.target.append((r, RDF_TYPE, f"{TGT}class/River", True, False))
            fx.target.append((r, f"{TGT_ONT}name", name, False, False))
            fx.target.append((r, f"{TGT_ONT}length_km", str(50 + i), False, False))
            fx.target.append((r, f"{TGT_ONT}mouth", f"{TGT}sea/{i % 4}", True, False))
        if rng.random() < homonym_rate / 2:
            pcand = f"{TGT}person/{i}"
            fx.target.append((pcand, RDF_TYPE, f"{TGT}class/Person", True, False))
            fx.target.append((pcand, f"{TGT_ONT}name", f"{rng.choice(_FIRST)} {name}", False, False))
            fx.target.append((pcand, f"{TGT_ONT}born", f"19{30 + i % 60}-01-0{1 + i % 9}", False, False))

        # redirect alias (F13/J5) for every 7th target + a sameAs link
        if has_target and i % 7 == 3:
            alias = f"{TGT}city_alias/{i}"
            fx.target.append((alias, WIKI_REDIRECT, t, True, False))
            fx.target.append((alias, f"{TGT_ONT}name", name + " town", False, False))
            fx.sameas.append((alias, t))

        # a bnode row that must be filtered (F5)
        if i % 11 == 5:
            fx.target.append((f"_:b{i}", f"{TGT_ONT}name", name, False, True))

        # web page carrying the same facts (extraction stage)
        url = f"https://ex{i % 5}.test/p/{i}"
        text = (
            f"{name} is a settlement in {country}. "
            f"It lies in the {region} region. "
            f"Its population is {pop}."
        )
        html = f"<html><body>{text}</body></html>".encode("utf-8")
        lang = "en" if i % 9 != 8 else ("pt" if i % 2 == 0 else "de")
        fx.pages.append((url, 1_600_000_000 + i, html, text, lang))
        fx.expected_extractions.extend(
            [
                (url, name, "in_country", country),
                (url, name, "in_region", region),
                (url, name, "population", pop),
            ]
        )

    # property overflow (A5): one target with a flood of distinct values
    flood = f"{TGT}city/0"
    for j in range(40):
        fx.target.append((flood, f"{TGT_ONT}seealso", f"{TGT}misc/{j}", True, False))

    return fx
