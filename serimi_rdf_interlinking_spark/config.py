"""Run configuration: the knobs a caller sets.

Reference: serimi.rb:11-120 (OptionParser), whose only tuning flags are
-k, -y, -p and -u. Defaults per serimi.rb: chunk 20 (:54-57), string
threshold 0.7 (:66-69), pivots off (initializer.rb:15), top-k 0 =
adaptive threshold (initializer.rb:16). Blocking (search_module.rb:33-56)
is always on: the reference only ever sets it true (initializer.rb:22).

The reference's hard-coded matcher constants (text length, group
presence, sample and keyword limits, pivot FIFO, the warm-up chunk of
5, ...) are not fields, and neither is an engine value no caller sets
(the hot-token cap): each is a module constant beside the code that
reads it.

Two reference CLI bugs are deliberately NOT replicated (we implement the
*intended* semantics): `-p` writes options[:chunk] (serimi.rb:58-61) and
`-u` writes options[:rdsthreshold] (serimi.rb:74-77).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class SerimiConfig:
    # matcher knobs (reference serimi.rb)
    chunk: int = 20                  # -k  chunk size sigma (serimi.rb:54-57)
    string_threshold: float = 0.7    # -y  $filter_threshold (serimi.rb:66-69)
    rds_threshold: float | None = None  # fixed RDS delta; None = adaptive delta-m
    topk: int = 0                    # top-k per group; 0 = adaptive threshold
    use_pivot: bool = False          # carry pivot groups across chunks (serimi_class.rb:279-298)

    # engine knobs (ours; no reference analogue)
    mode: str = "batch"              # "batch" = all chunks in parallel (pivots off);
                                     # "sequential" = reference-parity driver loop
    shuffle_partitions: int = 32
    checkpoint_dir: str | None = None     # per-stage parquet checkpoints + pipeline_state
    run_id: str = "run0"

    # J4 word-by-word fallback tier (search_module.rb:172-198). Dead
    # code in the reference ($word_by_word is never set,
    # search_module.rb:97) — opt-in here with the intended semantics:
    # keywords failing tiers 1-2 retry token-by-token.
    word_by_word: bool = False

    dbpedia_target: bool = False     # enables yago filter + redirect expansion (F6/F13)
    # F7 search-time redirect anti-join (search_module.rb:298-304).
    # Dead code in the reference (its call site :113 is commented out,
    # because it starves F13 redirect expansion) — opt-in here.
    drop_redirect_candidates: bool = False
