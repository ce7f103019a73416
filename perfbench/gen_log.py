#!/usr/bin/env python3
"""Seeded generator for a Rime typing log in the reference's JSONL format.

One JSON object per line, as the Lua logger writes it:
  - `text_committed` events under two field masks: the `normal` preset
    (rank, committed text, first candidate) and the `advanced` preset
    (plus input sequence, selection method, input buffer and the
    candidate list);
  - `input_state_changed`, `session_start`/`session_end` and `error`
    events around them;
  - a few blank lines and a few lines cut short, which readers must skip.

Committed words follow a Zipf law over a seeded vocabulary of CJK words,
so a few words carry most of the misses, as in real typing.

Besides the log, `generate` returns the tally a correct `analyze` and
`export-misses` must reproduce: commit, selection, first-choice, top-3
and direct counts, the rank and reciprocal-rank sums, the miss count and
the highest miss frequency of one word.

Usage: python3 perfbench/gen_log.py --seed 7 --lines 200000 --out LOG
"""
import argparse
import json
import time

import numpy as np

VOCAB = 20_000
ZIPF_S = 1.05
SESSION_LEN = 400          # mean events per session
BLANK_FRAC = 0.003
TRUNCATED_FRAC = 0.003
# share of events by type, over the non-session lines
COMMIT_FRAC, STATE_FRAC = 0.70, 0.29   # the rest are error events
# selected_candidate_rank of a commit: None means the field is absent
RANKS = [None, -1, 0, 1, 2, 3, 4, 5, 6, 7, 9, 11]
RANK_P = [0.03, 0.12, 0.55, 0.12, 0.06, 0.03, 0.02, 0.02, 0.02, 0.01,
          0.01, 0.01]
KEYS = ["a", "i", "n", "g", "space", "BackSpace", "Page_Down", "minus",
        "equal", "1", "2"]
SUBTYPES = ["menu_navigation", "input_rejected", "manual_segmentation",
            "buffer_edit", "other_key"]


def _vocabulary(rng):
    """VOCAB distinct words of 1-4 CJK ideographs, each with a pinyin-like
    input code."""
    chars = rng.integers(0x4E00, 0x4E00 + 20902, (2 * VOCAB, 4))
    lens = rng.integers(1, 5, 2 * VOCAB)
    words = list(dict.fromkeys(
        "".join(map(chr, row[:n])) for row, n in zip(chars.tolist(), lens)))
    letters = rng.integers(ord("a"), ord("z") + 1, (VOCAB, 8))
    code_lens = rng.integers(2, 9, VOCAB)
    codes = ["".join(map(chr, row[:n]))
             for row, n in zip(letters.tolist(), code_lens)]
    return words[:VOCAB], codes


def _jlist(items):
    """JSON array of strings that need no escaping."""
    return '["' + '","'.join(items) + '"]'


def _method(rank):
    if rank == -1:
        return "direct_commit_no_menu"
    if rank == 0:
        return "first_choice_space"
    return f"nth_choice_number_{rank % 6 + 1}" if rank % 2 else \
        "nth_choice_space"


def generate(seed, n_lines, path):
    """Write `n_lines` log lines to `path`; return the tally dict (with
    `gen_s`, the seconds generation took)."""
    t0 = time.perf_counter()
    rng = np.random.default_rng([seed, 0x5EED])
    words, codes = _vocabulary(rng)
    zipf_p = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
    zipf_p /= zipf_p.sum()
    # the word ranks of the Zipf law land on a seeded permutation of the
    # vocabulary, so the frequent words differ from seed to seed
    word_of = rng.permutation(VOCAB)[
        rng.choice(VOCAB, n_lines, p=zipf_p)].tolist()
    alt_of = rng.integers(0, VOCAB, (n_lines, 5)).tolist()
    kind = rng.random(n_lines).tolist()
    damage = rng.random(n_lines).tolist()
    rank_ix = rng.choice(len(RANKS), n_lines, p=RANK_P).tolist()
    ms = np.cumsum(rng.integers(50, 2000, n_lines))
    key_ix = rng.integers(0, len(KEYS), n_lines).tolist()
    cut_at = rng.random(n_lines).tolist()
    stamps = np.datetime_as_string(
        np.datetime64("2024-03-01T00:00:00.000") +
        ms.astype("timedelta64[ms]"), unit="ms").tolist()

    tally = dict(lines=n_lines, commits=0, selections=0, first_choice=0,
                 top3=0, direct=0, rank_sum=0, recip_rank_sum=0.0, misses=0)
    miss_freq = {}
    out = []
    advanced = False
    in_session = False
    for i in range(n_lines):
        d = damage[i]
        if d < BLANK_FRAC:
            out.append("")
            continue
        ts = stamps[i] + "Z"
        k = kind[i]
        if not in_session or k < 1.0 / SESSION_LEN:
            # close the running session (if any) and open the next one;
            # the preset is a per-session setting
            if in_session:
                line = f'{{"event_type":"session_end","timestamp":"{ts}"}}'
            else:
                advanced = bool(rng.random() < 0.5)
                schema = "wanxiang" if advanced else "rime_ice"
                line = (f'{{"event_type":"session_start","timestamp":"{ts}",'
                        f'"schema_id":"{schema}"}}')
            in_session = not in_session
        else:
            k = (k - 1.0 / SESSION_LEN) / (1.0 - 1.0 / SESSION_LEN)
            w = words[word_of[i]]
            if k < COMMIT_FRAC:
                rank = RANKS[rank_ix[i]]
                alts = [words[a] for a in alt_of[i]]
                first = w if rank == 0 else alts[0]
                fields = ['"event_type":"text_committed"',
                          f'"timestamp":"{ts}"']
                if rank is not None:
                    fields.append(f'"selected_candidate_rank":{rank}')
                fields.append(f'"committed_text":"{w}"')
                if rank != -1:
                    fields.append(f'"source_first_candidate":"{first}"')
                if advanced:
                    code = codes[word_of[i]]
                    cands = [first] + alts[1:]
                    if rank is not None and 0 < rank < 5:
                        cands[rank] = w
                    fields += [f'"input_sequence_at_commit":"{code}"',
                               f'"selection_method":"{_method(rank)}"'
                               if rank is not None else
                               '"selection_method":"unknown"',
                               f'"source_input_buffer":"{code}"',
                               '"source_candidates_list":' + _jlist(cands)]
                line = "{" + ",".join(fields) + "}"
                if d >= 1.0 - TRUNCATED_FRAC:
                    out.append(line[:1 + int(cut_at[i] * (len(line) - 2))])
                    continue
                tally["commits"] += 1
                if rank is not None:
                    if rank == -1:
                        tally["direct"] += 1
                    else:
                        tally["selections"] += 1
                        tally["rank_sum"] += rank
                        tally["recip_rank_sum"] += 1.0 / (rank + 1)
                        tally["first_choice"] += rank == 0
                        tally["top3"] += rank < 3
                        if rank > 0:
                            tally["misses"] += 1
                            miss_freq[w] = miss_freq.get(w, 0) + 1
                out.append(line)
                continue
            if k < COMMIT_FRAC + STATE_FRAC:
                cands = [words[a] for a in alt_of[i][:3]]
                line = ('{"event_type":"input_state_changed",'
                        f'"timestamp":"{ts}",'
                        f'"event_subtype":"{SUBTYPES[key_ix[i] % 5]}",'
                        f'"key_action":"{KEYS[key_ix[i]]}",'
                        f'"input_buffer":"{codes[word_of[i]]}",'
                        f'"candidates":{_jlist(cands)},'
                        f'"first_candidate":"{cands[0]}","has_menu":true}}')
            else:
                line = ('{"event_type":"error",'
                        f'"timestamp":"{ts}","component":"logger",'
                        '"message":"write failed: \\"busy\\"",'
                        f'"key_repr":"{KEYS[key_ix[i]]}"}}')
        if d >= 1.0 - TRUNCATED_FRAC:
            line = line[:1 + int(cut_at[i] * (len(line) - 2))]
        out.append(line)
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(out))
        f.write("\n")
    tally["max_miss_freq"] = max(miss_freq.values()) if miss_freq else 0
    tally["gen_s"] = time.perf_counter() - t0
    return tally


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--lines", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.seed, a.lines, a.out)))


if __name__ == "__main__":
    main()
