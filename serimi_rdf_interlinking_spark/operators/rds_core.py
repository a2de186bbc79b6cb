"""SERIMI per-chunk disambiguation core — pure Python, Spark-free.

This module is the quirk-faithful re-derivation of the reference's
chunk-local math (serimi_class.rb, serimi_module.rb, initializer.rb).
It operates on one *chunk* (<= ~20 source resources plus pivots), which
is exactly the reference's unit of sequential work — so the distributed
engine can run thousands of these kernels in parallel, one per chunk,
inside `applyInPandas` (see operators/rds.py). All heavy *global* work
(candidate retrieval, token indexing, description joins) stays in
DataFrame land; only this small, quadratic-in-groups math is Python.

Data representation: a triple is a tuple ``(s, p, o, is_uri)`` with all
components plain strings; a group is the candidate triple list of one
source resource (the reference's pseudo-homonym set, tech-report Def 6).

Reference quirks preserved (see SURVEY.md §2.4, §7):
* SetSim denominators count multiplicity while intersections count
  unique elements (serimi_class.rb:300-331).
* The origin-vs-candidate similarity is re-added once per group, scaled
  by that group's 1/|subjects|^2 (serimi_class.rb:188-193).
* Entropy normalizes by ln(total values), not ln(distinct)
  (serimi_class.rb:56); NaN entropies are dropped (:59).
* Per-group normalization divides by the *global* max only when the
  group max is nonzero (serimi_class.rb:242-247).
* Threshold edge rules: ==1 -> 0.99; ==outlier -> +0.01; <0.1 re-mean
  (initializer.rb:243-245).
"""

from __future__ import annotations

import math
from collections import deque
from dataclasses import dataclass, field

from ..functions import kernels as K

Triple = tuple  # (s, p, o, is_uri)

TEXT_LEN = 400        # F9 long-text threshold (serimi_module.rb:13)
GROUP_PRESENCE = 0.4  # A1 only-once exclusion (serimi_class.rb:36)
OVERFLOW_MIN = 5.0    # A5 rule max(mu, sigma) > 5 (serimi_class.rb:363)


# ---------------------------------------------------------------------------
# F9 — text-property detection (serimi_module.rb:2-15)
# ---------------------------------------------------------------------------


def _distinct_triples(groups: list[list[Triple]]) -> list[Triple]:
    """The distinct triples across `groups`, in first-seen order."""
    return list(dict.fromkeys(t for g in groups for t in g))


def get_text_properties(groups: list[list[Triple]]) -> list[str]:
    """Predicates having any object value longer than TEXT_LEN."""
    return list(
        dict.fromkeys(
            t[1] for t in _distinct_triples(groups) if len(str(t[2])) > TEXT_LEN
        )
    )


# ---------------------------------------------------------------------------
# A1 — predicate entropy (serimi_class.rb:15-81)
# ---------------------------------------------------------------------------


def entropy_computation(
    groups: list[list[Triple]],
    textp: list[str],
) -> tuple[list[str], dict[str, float]]:
    """Returns (selected predicates ascending by score, score map).

    Score = |1 - H/ln(n)|; keep predicates scoring <= mean(score).
    With >1 group, (p,o) pairs are deduped per group and predicates
    present in < GROUP_PRESENCE * nonempty-groups are excluded first;
    with exactly 1 group the pairs keep multiplicity
    (serimi_class.rb:25-30).
    """
    pairs: list[tuple[str, str]] = []
    pergroup_predicates: list[str] = []
    noempty = 0
    multi = len(groups) > 1
    for g in groups:
        if len(g) > 0:
            noempty += 1
        if multi:
            gp: list[str] = []
            for t in g:
                if t[1] not in gp:
                    gp.append(t[1])
            pergroup_predicates.extend(gp)
            gpairs: list[tuple[str, str]] = []
            gseen: set[tuple[str, str]] = set()
            for t in g:
                po = (t[1], str(t[2]))
                if po not in gseen:
                    gseen.add(po)
                    gpairs.append(po)
            pairs.extend(gpairs)
        else:
            pairs.extend((t[1], str(t[2])) for t in g)

    textp_set = set(textp)
    predicates: list[str] = []
    for p, _o in pairs:
        if p not in textp_set and p not in predicates:
            predicates.append(p)

    if multi:
        threshold = noempty * GROUP_PRESENCE
        counts: dict[str, int] = {}
        for p in pergroup_predicates:
            counts[p] = counts.get(p, 0) + 1
        only_once = {p for p, c in counts.items() if c < threshold}
        predicates = [p for p in predicates if p not in only_once]

    entropies: dict[str, float] = {}
    by_pred: dict[str, list[str]] = {}
    for p, o in pairs:
        by_pred.setdefault(p, []).append(o)
    for p in predicates:
        objects = by_pred.get(p, [])
        n = len(objects)
        if n == 0:
            continue
        counts2: dict[str, int] = {}
        for o in objects:
            counts2[o] = counts2.get(o, 0) + 1
        ent = -sum((c / n) * math.log(c / n) for c in counts2.values())
        denom = math.log(n)
        if denom == 0:
            continue  # Ruby 0/0 -> NaN -> dropped (serimi_class.rb:59)
        entropies[p] = abs(1.0 - ent / denom)

    if not entropies:
        return [], {}
    mean_score = sum(entropies.values()) / len(entropies)
    ordered = sorted(entropies.items(), key=lambda kv: abs(kv[1]))
    selected = [p for p, v in ordered if v <= mean_score]
    return selected, entropies


# ---------------------------------------------------------------------------
# A5 — property overflow (serimi_class.rb:340-371)
# ---------------------------------------------------------------------------


def property_overflow(triples: list[Triple]) -> list[str]:
    """Predicates of a (subject, predicate) pair whose count among the
    chunk's distinct `triples` exceeds max(mean, stddev) of all pair
    counts, when that threshold exceeds OVERFLOW_MIN."""
    counts: dict[tuple[str, str], int] = {}
    for t in triples:
        sp = (t[0], t[1])
        counts[sp] = counts.get(sp, 0) + 1
    if not counts:
        return []
    mean, dev = K.mean_and_standard_deviation(list(map(float, counts.values())))
    threshold = max(mean, dev)
    out: list[str] = []
    if threshold > OVERFLOW_MIN:
        for (s, p), c in counts.items():
            if c > threshold and p not in out:
                out.append(p)
    return out


# ---------------------------------------------------------------------------
# A6 — restricted inverse-functional predicates (serimi_class.rb:375-409)
# ---------------------------------------------------------------------------


def restricted_ifp(triples: list[Triple]) -> list[str]:
    """Predicates whose object values among the chunk's distinct
    `triples` are all distinct."""
    by_pred: dict[str, list[str]] = {}
    for t in triples:
        by_pred.setdefault(t[1], []).append(str(t[2]))
    return [p for p, obs in by_pred.items() if len(obs) == len(set(obs))]


# ---------------------------------------------------------------------------
# F12 — entity-label max-similarity selection (serimi_module.rb:18-80)
# ---------------------------------------------------------------------------


def entity_label_filtering(
    groups: list[list[Triple]],
    searched_labels: list[list[str]],
    textp: list[str],
    stopwords: tuple[str, ...],
    filter_threshold: float = 0.7,
) -> tuple[list[list[Triple]], list[str]]:
    """Per group keep only the subjects attaining the maximal summed
    label similarity (when that max exceeds the threshold).

    Returns (filtered groups, discriminative predicates) — the latter
    feeds the searchable-predicate promotion ($word_by_word_properties,
    serimi_module.rb:28-30).
    """
    discriminative, _entropies = entropy_computation(groups, textp)
    disc_set = set(discriminative)
    textp_set = set(textp)
    out: list[list[Triple]] = []
    for count, group in enumerate(groups):
        if len(group) == 0:
            out.append(group)
            continue
        labels = searched_labels[count] if count < len(searched_labels) else []
        scores: list[float] = []
        for s, p, o, is_uri in group:
            o_s = str(o)
            entitylabel = p in disc_set
            if len(disc_set) == 0:
                entitylabel = True  # not enough info for entropy
            if K.ruby_to_i(o_s) != 0:
                entitylabel = True  # numeric literals always eligible
            if is_uri or p in textp_set or not entitylabel:
                scores.append(0.0)
            else:
                scores.append(
                    sum(
                        K.advanced_string_matching_cached(o_s, str(x), stopwords)
                        for x in labels
                    )
                )
        mx = max(scores) if scores else 0.0
        selection: set[str] = set()
        if mx > filter_threshold:
            selection = {t[0] for t, sc in zip(group, scores) if sc == mx}
        out.append([t for t in group if t[0] in selection])
    return out, discriminative


# ---------------------------------------------------------------------------
# A7-A9 — RDS feature scoring (serimi_class.rb:104-276)
# ---------------------------------------------------------------------------


@dataclass
class RdsResult:
    # per group, per candidate-subject (first-appearance order):
    subjects: list[list[str]] = field(default_factory=list)
    raw: list[list[float]] = field(default_factory=list)
    normalized: list[list[float]] = field(default_factory=list)
    global_max: float = 0.0
    # (group_idx, subject_idx) hitting the global max — pivot hook
    pivot_hits: list[tuple[int, int]] = field(default_factory=list)


def _tuple_repr(p: str, o: str, is_uri: bool) -> str:
    # the reference builds "p o" with Resource#to_s printing <uri>
    # (resource.rb:465-467) — keep URIs marked to avoid literal collisions.
    return f"{p} <{o}>" if is_uri else f"{p} {o}"


def rds_score(
    groups: list[list[Triple]],
    origins: list[list[tuple[str, str, bool]]],
    textp: list[str],
) -> RdsResult:
    """Quirk-faithful port of rdf2svm_with_meta_properties.

    `groups` may include trailing pivot groups (beyond len(origins));
    those receive no origin-similarity term (serimi_class.rb:176).
    """
    triples = _distinct_triples(groups)
    ifp = restricted_ifp(triples) + list(textp) + property_overflow(triples)
    ifp_set = set(dict.fromkeys(ifp))

    # per-group summaries over distinct triples (group.uniq)
    summaries = []
    for group in groups:
        distinct = _distinct_triples([group])
        P = [t[1] for t in distinct]
        D = [str(t[2]) for t in distinct if not t[3] and t[1] not in ifp_set]
        O = [str(t[2]) for t in distinct if t[3] and t[1] not in ifp_set]
        T = [_tuple_repr(t[1], str(t[2]), t[3]) for t in distinct if t[1] not in ifp_set]
        subjects: list[str] = []
        for t in distinct:
            if t[0] not in subjects:
                subjects.append(t[0])
        per_subject = {s: [t for t in distinct if t[0] == s] for s in subjects}
        summaries.append((subjects, per_subject, P, D, O, T))

    origin_summaries = []
    for pairs in origins:
        oP = [p for p, _o, _u in pairs]
        oD = [str(o) for _p, o, u in pairs if not u]
        oO = [str(o) for _p, o, u in pairs if u]
        oT = [_tuple_repr(p, str(o), u) for p, o, u in pairs]
        origin_summaries.append((oP, oD, oO, oT))

    res = RdsResult()
    group_sizes = [float(len(sm[0])) for sm in summaries]
    global_max = 0.0
    for gidx, (subjects, per_subject, _P, _D, _O, _T) in enumerate(summaries):
        raw: list[float] = []
        for s in subjects:
            trs = per_subject[s]
            sp = [t[1] for t in trs]
            sd = [str(t[2]) for t in trs if not t[3] and t[1] not in ifp_set]
            so = [str(t[2]) for t in trs if t[3] and t[1] not in ifp_set]
            st = [_tuple_repr(t[1], str(t[2]), t[3]) for t in trs if t[1] not in ifp_set]
            sim1 = sim2 = sim3 = sim4 = 0.0
            if gidx < len(origin_summaries):
                oP, oD, oO, oT = origin_summaries[gidx]
                # quirk: re-added once per group, scaled by each group's
                # subject count (serimi_class.rb:188-193)
                for c in group_sizes:
                    sim1 += K.hm(oP, sp, c)
                    sim2 += K.hm(oD, sd, c)
                    sim3 += K.hm(oO, so, c)
                    sim4 += K.hm(oT, st, c)
            for jdx, (jsubs, _ps, jP, jD, jO, jT) in enumerate(summaries):
                if jdx == gidx:
                    continue
                c = float(len(jsubs))
                sim1 += K.hm(jP, sp, c)
                sim2 += K.hm(jD, sd, c)
                sim3 += K.hm(jO, so, c)
                sim4 += K.hm(jT, st, c)
            raw.append(abs(sim1 + sim2 + sim3 + sim4))
        res.subjects.append(subjects)
        res.raw.append(raw)
        if raw:
            global_max = max(global_max, max(raw))

    res.global_max = global_max
    for gidx, raw in enumerate(res.raw):
        gmax = max(raw) if raw else 0.0
        norm: list[float] = []
        for sidx, f in enumerate(raw):
            if gmax != 0:
                v = f / global_max
                if f == global_max:
                    res.pivot_hits.append((gidx, sidx))
            else:
                v = f
            norm.append(v)
        res.normalized.append(norm)
    return res


# ---------------------------------------------------------------------------
# A10/A11/W2 — adaptive thresholds + acceptance (initializer.rb:192-264)
# ---------------------------------------------------------------------------


def rds_thresholds(
    scores_by_group: list[list[float]],
    topk: int = 0,
    rds_threshold: float | None = None,
) -> list[float]:
    """Per-group acceptance threshold (pivot groups must be stripped by
    the caller before this, as initializer.rb:179 does)."""
    if not scores_by_group:
        return []
    maximus = [max(svm) for svm in scores_by_group if svm]
    mean_maximus = K.mean(maximus) if maximus else 0.0
    all_values: list[float] = [v for svm in scores_by_group for v in svm]
    if 1.0 not in all_values:
        all_values = all_values + [1.0]
    g_mean, g_dev = K.mean_and_standard_deviation(all_values)
    outliers_threshold = max(g_mean - g_dev, g_dev)

    thresholds: list[float] = []
    for svm in scores_by_group:
        if not svm:
            thresholds.append(math.inf)
            continue
        if rds_threshold is not None:
            thresholds.append(rds_threshold)
            continue
        if topk == 0:
            m, sd = K.mean_and_standard_deviation(svm)
            t = m
            if sd > 0.1 and max(svm) >= mean_maximus:
                t = K.mean([max(svm), mean_maximus])
            if g_dev > 0.13:
                t = max(t, outliers_threshold)
            if t == 1:
                t = 0.99
            if outliers_threshold == t:
                t = t + 0.01
            if t < 0.1 and max(svm) >= 0.1:
                big = [v for v in svm if v >= 0.1]
                t = K.mean_and_standard_deviation(big)[0]
        else:
            k = min(topk, len(svm))
            t = sorted(svm, reverse=True)[k - 1]
        thresholds.append(t)
    return thresholds


@dataclass
class PivotFifo:
    """The pivots carried from chunk to chunk (add_pivot,
    serimi_class.rb:279-298): each subject hitting a chunk's global RDS
    max joins later chunks as an extra scoring group, at most `size`
    of them, oldest evicted first."""

    size: int
    groups: deque = field(default_factory=deque)
    subjects: list[str] = field(default_factory=list)

    def admit(self, res: RdsResult, groups: list[list[Triple]]) -> None:
        for gidx, sidx in res.pivot_hits:
            spivot = res.subjects[gidx][sidx]
            if len(self.groups) > self.size:
                break
            if spivot in self.subjects:
                continue
            self.groups.append([t for t in groups[gidx] if t[0] == spivot])
            self.subjects.append(spivot)
            if len(self.groups) > self.size:
                self.groups.popleft()
                self.subjects.pop(0)


def score_chunk(
    groups: list[list[Triple]],
    origins: list[list[tuple[str, str, bool]]],
    textp: list[str],
    topk: int = 0,
    rds_threshold: float | None = None,
    pivot_fifo: PivotFifo | None = None,
) -> list[tuple[int, str, float, float, bool]]:
    """One chunk end-to-end: RDS scoring + thresholds + acceptance.

    Returns rows (group_idx, candidate_subject, score, threshold,
    accepted). Pivot groups participate in scoring/normalization but are
    excluded from output and threshold statistics (initializer.rb:179).
    A `pivot_fifo` supplies the pivot groups and admits this chunk's
    pivot hits afterwards.
    """
    all_groups = groups + (list(pivot_fifo.groups) if pivot_fifo else [])
    res = rds_score(all_groups, origins, textp)
    if pivot_fifo is not None:
        pivot_fifo.admit(res, all_groups)
    n = len(groups)
    scores = res.normalized[:n]
    thresholds = rds_thresholds(scores, topk=topk, rds_threshold=rds_threshold)
    out: list[tuple[int, str, float, float, bool]] = []
    for gidx in range(n):
        t = thresholds[gidx]
        for s, v in zip(res.subjects[gidx], scores[gidx]):
            out.append((gidx, s, v, t, v >= t))
    return out
