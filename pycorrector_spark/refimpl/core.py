"""Serial reference-semantics implementation (the oracle).

A faithful re-expression — NOT a copy — of the statistical core of
shibing624/pycorrector (the reference at /root/reference):

- Detector._detect / detect: detector.py:396-495
- MAD outlier rule:          detector.py:330-355
- containment dedup:         detector.py:303-328
- Corrector.generate_items / get_lm_correct_item / correct:
                             corrector.py:169-318
- ConfusionCorrector.correct: confusion_corrector.py:58-71
- EnSpellCorrector (Norvig): en_spell_corrector.py:59-175

Known, documented divergences from the reference (forced by the sandbox —
kenlm / jieba / pypinyin are unavailable; pipeline and oracle share these
choices so they agree with EACH OTHER exactly):

1. The language model is our own ORDER-5 backoff char LM
   (pycorrector_spark.lm — the same order as the reference's pretrained
   zh_giga model and the north rule's "5-gram hash + perplexity
   scorer"), trained on the deterministic fixture corpus; the .klm
   BINARY format is not decoded (no such file exists in-sandbox), but
   standard ARPA text models load via lm.model.load_arpa.
2. Word segmentation replicates jieba's cut(HMM=False) max-probability
   DAG route (textops.dag_max_prob_tokens) over the broadcast word dict —
   the same dynamic program jieba runs, so the residual divergence is the
   DICT CONTENT (jieba's 350k-entry dict.txt is not shipped), not the
   algorithm. A greedy max-match fallback remains via segment_mode.
   Since round 3 the HMM mode also exists (textops.dag_hmm_tokens: the
   finalseg BMES viterbi over buffered OOV runs, jieba __cut_DAG
   dataflow) with tables DERIVED from the word-freq dict — jieba's
   corpus-trained prob_start/trans/emit files are the remaining content
   gap. The detector keeps HMM=False for its OOV scan (an HMM-joined
   token is by construction OOV, which would double-flag the same span).
3. The same-pinyin word set (reference corrector.py:152-161): with full
   dims loaded, the filter uses per-char toneless-reading SETS from the
   public same_pinyin table (~3.3k chars; dictio.pinyin_reading_map —
   polyphones keep one entry per reading, no transitive merge) and the
   real 3,502-char common set as the replacement universe. pypinyin's
   per-char READINGS remain unavailable, so the default embedded
   PINYIN_ZH path persists as the fallback.
4. Proper-noun correction (refimpl/proper.py, reference
   proper_corrector.py) is opt-in: pass ``proper=ProperCorrector(names)``.
   The default stays None so golden labels are stable; with full dims,
   the names are proper_name.txt's curated list and stroke codes the
   12k-char stroke.txt (reference wiring — person/place name lists feed
   the word-freq dict, detector.py:133-150, NOT this corrector).
5. English tie-breaks sort candidates lexicographically before the
   probability argmax (the reference iterates an unordered set, which is
   hash-seed dependent — we pin determinism).

Two paths run the zh detector and corrector:

- the oracle path, ``Detector.detect`` and ``Corrector.correct`` (and
  ``golden.golden_row`` on top of them), goes one document and one
  fragment at a time. It defines the labels the distributed pipeline must
  reproduce;
- the batch kernel, ``Corrector.detect_and_correct_batch``, which the
  score stage calls once per Arrow batch, detects every fragment of the
  batch with one LM-window pass per side and re-ranks the candidates of
  all errors in rounds, one flat LM probe per round.

Both call THE SAME vectorized numpy primitives (LM window scorer, MAD,
``ppl_batch``), the segmentation DP over the same log-prob table, and the
same re-rank selection (``pick_lm_item``), so they agree bitwise.

English spell correction is split the same way. ``EnSpellCorrector.correct``
(and ``golden_row``) is the oracle, one document at a time.
``EnSpellCorrector.correct_batch`` is the kernel the score stage calls once
per batch: it resolves each distinct ``[A-Za-z]+`` run of the batch once,
then splices only the changed words, at the places where they are whole
content fragments. A Hypothesis property holds it equal to ``correct``.
"""

from __future__ import annotations

import re

import numpy as np

from ..textops import (
    HAN_RUN_PATTERN,
    MultiPatternScanner,
    dag_max_prob_tokens,
    is_cjk_string,
    is_filter_token,
    log_prob_table,
    max_match_tokens,
    split_sentences_by_symbol,
    uniform,
)
from ..lm.model import CharNgramLM, mad_outlier_indices_batch


class ErrorType:
    confusion = "confusion"
    word = "word"
    char = "char"
    proper = "proper"


def _check_contain_error(maybe_err, maybe_errors):
    """True if maybe_err's word is a substring of an existing error whose
    span contains it — reference detector.py:303-318."""
    for err in maybe_errors:
        if (
            maybe_err[0] in err[0]
            and maybe_err[1] >= err[1]
            and maybe_err[2] <= err[2]
        ):
            return True
    return False


def _add_maybe_error_item(maybe_err, maybe_errors):
    if maybe_err not in maybe_errors and not _check_contain_error(maybe_err, maybe_errors):
        maybe_errors.append(maybe_err)


def pick_lm_item(cur_item, candidates, ppls, threshold):
    """Keep cur_item if its ppl is within ``threshold`` of the best
    candidate; else take the best (corrector.py:223-257). ``ppls[i]`` is
    the ppl of the sentence with ``candidates[i]`` spliced in, and
    cur_item is one of the candidates."""
    order = sorted(range(len(candidates)), key=lambda i: ppls[i])
    top_items = []
    top_score = 0.0
    for rank, i in enumerate(order):
        if rank == 0:
            top_score = float(ppls[i])
            top_items.append(candidates[i])
        elif float(ppls[i]) < top_score + threshold:
            top_items.append(candidates[i])
        else:
            break
    if cur_item not in top_items:
        return top_items[0]
    return cur_item


class Detector:
    """Error detector: confusion scan -> OOV words -> LM char outliers."""

    def __init__(
        self,
        lm: CharNgramLM,
        word_freq: dict,
        confusion_dict: dict,
        stopwords: set,
        enable_char_error: bool = True,
        enable_word_error: bool = True,
        proper=None,
        segment_mode: str = "dp",
    ):
        self.lm = lm
        self.word_freq = word_freq
        self.custom_confusion = dict(confusion_dict)
        self.stopwords = set(stopwords)
        self.scanner = MultiPatternScanner(self.custom_confusion.keys())
        self.enable_char_error = enable_char_error
        self.enable_word_error = enable_word_error
        # optional ProperCorrector (refimpl/proper.py) — detection stage 2
        # (detector.py:419-424); None keeps the round-1 default behavior
        self.proper = proper
        # "dp" = jieba cut(HMM=False) max-prob DAG replica (the reference's
        # tokenizer given the same dict — divergence #2 narrowed to dict
        # CONTENT); "max_match" = the round-1 greedy stand-in
        if segment_mode not in ("dp", "max_match"):
            raise ValueError(f"unknown segment_mode {segment_mode!r}")
        self.segment_mode = segment_mode
        self._word_set = set(word_freq)
        self._logp_table = log_prob_table(word_freq)  # O(dict) once, not per call

    def word_frequency(self, word: str) -> int:
        return self.word_freq.get(word, 0)

    # -- detection --

    def _detect(self, sentence: str, start_idx: int = 0):
        """Return [[word, begin, end, type], ...] for one fragment."""
        return self._detect_fragments([(sentence, start_idx)])[0][0]

    def _detect_fragments(self, frags):
        """_detect_with_proper of every (fragment, start) pair, with the LM
        windows of all fragments scored in one probe pass and their MAD
        outlier tests run in one pass (the reference path, detect() and
        correct(), passes one fragment at a time)."""
        if self.enable_char_error:
            outliers = mad_outlier_indices_batch(
                self.lm.window_avg_scores_batch([s for s, _ in frags])
            )
        else:
            outliers = [[]] * len(frags)
        return [
            self._detect_with_proper(s, i, out) for (s, i), out in zip(frags, outliers)
        ]

    def _detect_with_proper(self, sentence: str, start_idx: int, outliers):
        """([[word, begin, end, type], ...], {(word, begin): correction})
        for one fragment; ``outliers`` are the positions the MAD test flags
        in its ``lm.window_avg_scores`` (empty when char errors are off).

        A pure function of (sentence, start_idx). Stage order and
        containment dedup mirror detector.py:396-478; the proper_details
        map mirrors the (cur, correct, begin) triples the reference
        corrector consumes (detector.py:419-424).
        """
        maybe_errors = []
        proper_details = {}

        # 1. custom confusion variants (all occurrences, end-index order)
        if len(self.scanner) > 0:
            for end_idx, confuse in self.scanner.iter_matches(sentence):
                begin_idx = end_idx - len(confuse) + 1
                maybe_err = [confuse, begin_idx + start_idx, end_idx + 1 + start_idx, ErrorType.confusion]
                _add_maybe_error_item(maybe_err, maybe_errors)

        # 2. proper nouns (detector.py:419-424): index-recalled candidates
        # above the similarity threshold become forced corrections
        if self.proper is not None:
            res = self.proper.correct(sentence)
            for wrong, right, begin in res["errors"]:
                b = begin + start_idx
                _add_maybe_error_item(
                    [wrong, b, b + len(wrong), ErrorType.proper], maybe_errors
                )
                proper_details[(wrong, b)] = right

        # 3. OOV words (reference detector.py:427-438 iterates jieba
        # search-mode tokens; in-dict sub-words are never OOV, so scanning
        # the base segmentation flags the identical set)
        if self.enable_word_error:
            if self.segment_mode == "dp":
                tokens = dag_max_prob_tokens(sentence, self.word_freq,
                                             logp_table=self._logp_table)
            else:
                tokens = max_match_tokens(sentence, self._word_set)
            for token, b, e in tokens:
                # both tests only skip; the dict test is cheaper and hits
                # most tokens
                if token in self.word_freq:
                    continue
                if is_filter_token(token):
                    continue
                _add_maybe_error_item([token, b + start_idx, e + start_idx, ErrorType.word], maybe_errors)

        # 4. LM char outliers (2/3-gram window average + MAD)
        for i in outliers:
            token = sentence[i]
            if is_filter_token(token):
                continue
            if token in self.stopwords:
                continue
            _add_maybe_error_item([token, i + start_idx, i + start_idx + 1, ErrorType.char], maybe_errors)

        return sorted(maybe_errors, key=lambda k: k[1]), proper_details

    def detect(self, sentence: str):
        """uniform -> split -> _detect per fragment (detector.py:480-495)."""
        maybe_errors = []
        if not sentence.strip():
            return maybe_errors
        sentence = uniform(sentence)
        for sent, idx in split_sentences_by_symbol(sentence):
            maybe_errors += self._detect(sent, idx)
        return maybe_errors


class _Fragment:
    """One fragment's correction state in Corrector._correct_rounds."""

    __slots__ = ("sent", "idx", "errors", "proper", "details")

    def __init__(self, sent, idx, errors, proper):
        self.sent = sent          # current text, earlier corrections spliced in
        self.idx = idx            # start offset in the document
        self.errors = errors      # _detect_with_proper's errors, by begin
        self.proper = proper      # {(word, begin): forced proper correction}
        self.details = []         # (error, correction, begin) triples

    def splice(self, cur_item, corrected_item, begin_idx, before_sent, after_sent):
        if corrected_item != cur_item:
            self.sent = before_sent + corrected_item + after_sent
            self.details.append((cur_item, corrected_item, begin_idx))


class Corrector(Detector):
    """Candidate generation + LM perplexity re-rank + splice."""

    PPL_THRESHOLD = 5.0  # config.PipelineConfig.ppl_rerank_threshold; the
    # reference default is 57.0 (corrector.py:223,264) on pretrained KenLM's
    # ppl scale — see config.py for the calibration note.

    def __init__(self, *, similar_chars: dict = None, ppl_threshold: float = None,
                 pinyin_classes: dict = None, char_universe=None,
                 pinyin_readings: dict = None, pinyin_canonical: dict = None,
                 **kwargs):
        super().__init__(**kwargs)
        self.similar_chars = {k: set(v) for k, v in (similar_chars or {}).items()}
        if ppl_threshold is not None:
            self.PPL_THRESHOLD = ppl_threshold
        # same-pinyin machinery for candidate generation (C1), in order of
        # preference:
        # - pinyin_canonical: char -> ONE toneless reading (pinyin_dim.
        #   char_pinyin_table) — the reference-fidelity path: lazy_pinyin
        #   equality (corrector.py:152-161) compares exactly one canonical
        #   reading per char, polyphones collapsed; chars outside the
        #   table fall through to the next mechanism
        # - pinyin_readings: char -> frozenset of reading-group ids
        #   (dictio.pinyin_reading_map, ~3.3k chars, polyphone-correct —
        #   no transitive merge); two chars share a pinyin iff their
        #   reading sets intersect
        # - pinyin_classes: char -> toneless-reading class representative
        #   (round-2 union-find over same_pinyin, kept for comparability;
        #   no loader builds it any more — polyphones over-merge)
        # - neither: the embedded per-char pinyin strings (round-1)
        # - char_universe: replacement-char pool for the edit-distance-1
        #   scan — the reference uses common_char_set.txt's 3,502 chars
        #   (corrector.py:154-161); default stays the embedded pinyin dim
        self.pinyin_readings = dict(pinyin_readings) if pinyin_readings else None
        self.pinyin_classes = dict(pinyin_classes) if pinyin_classes else None
        self.pinyin_canonical = dict(pinyin_canonical) if pinyin_canonical else None
        self._char_universe = tuple(char_universe) if char_universe else None

    def _confusion_char_set(self, c: str) -> set:
        return self.similar_chars.get(c, set())

    def _confusion_custom_set(self, word: str) -> set:
        if word in self.custom_confusion:
            return {self.custom_confusion[word]}
        return set()

    def _pinyin_key(self, word: str) -> tuple:
        """Toneless per-char pinyin tuple (lazy_pinyin role): class
        representatives when the same-pinyin class map is loaded (chars
        outside the map only ever equal themselves), else the embedded
        per-char pinyin strings. Legacy path — pinyin_readings, when
        present, replaces tuple equality with _same_char_pinyin."""
        if self.pinyin_classes is not None:
            return tuple(self.pinyin_classes.get(c, c) for c in word)
        from .proper import pinyin_of

        return tuple(pinyin_of(c) for c in word)

    def _same_char_pinyin(self, a: str, b: str) -> bool:
        """True iff chars a and b share a toneless reading. Preference
        order: canonical single-reading EQUALITY (the reference's
        lazy_pinyin(a) == lazy_pinyin(b) contract) when both chars are in
        the canonical table; reading-set intersection as the fallback for
        uncovered chars; else per-char key equality."""
        if a == b:
            return True
        if self.pinyin_canonical is not None:
            ca = self.pinyin_canonical.get(a)
            cb = self.pinyin_canonical.get(b)
            if ca is not None and cb is not None:
                return ca == cb
        if self.pinyin_readings is not None:
            ra = self.pinyin_readings.get(a)
            rb = self.pinyin_readings.get(b)
            return bool(ra) and bool(rb) and not ra.isdisjoint(rb)
        return self._pinyin_key(a) == self._pinyin_key(b)

    def _same_word_pinyin(self, a: str, b: str) -> bool:
        """Positionwise same-pinyin for equal-length words (the reference's
        lazy_pinyin(a) == lazy_pinyin(b), corrector.py:152-161)."""
        return len(a) == len(b) and all(
            self._same_char_pinyin(x, y) for x, y in zip(a, b)
        )

    def _confusion_word_set(self, word: str) -> set:
        """Same-pinyin known-word candidates one edit away (reference
        corrector.py:152-161 + math_utils.edit_distance_word: transposes
        and replacements over the common-char set, kept when the result
        is a dict word with identical lazy pinyin)."""
        out = set()
        # transposes (the swapped pair must be mutual homophones)
        for i in range(len(word) - 1):
            cand = word[:i] + word[i + 1] + word[i] + word[i + 2:]
            if cand != word and cand in self.word_freq and self._same_word_pinyin(word, cand):
                out.add(cand)
        # single-char replacements over the char universe (the reference's
        # 3,502-char common set when full dims are loaded)
        universe = self._char_universe
        if universe is None:
            from .proper import PINYIN_ZH

            universe = tuple(PINYIN_ZH)
            self._char_universe = universe
        for i, orig in enumerate(word):
            for ch in universe:
                if ch == orig:
                    continue
                cand = word[:i] + ch + word[i + 1:]
                if cand in self.word_freq and self._same_char_pinyin(orig, ch):
                    out.add(cand)
        return out

    def generate_items(self, word: str, fragment: int = 1):
        """Candidate set per reference corrector.py:169-221, including the
        same-pinyin word set (corrector.py:152-161)."""
        candidates_1, candidates_2, candidates_3 = [], [], []
        candidates_1.extend(self._confusion_custom_set(word))
        if len(word) == 1:
            candidates_1.extend(i for i in self._confusion_char_set(word[0]) if i)
        if len(word) >= 2:
            # same-pinyin dict words one edit away (corrector.py:152-161)
            candidates_1.extend(self._confusion_word_set(word))
        if len(word) == 2:
            conf_first = [i for i in self._confusion_char_set(word[0]) if i]
            candidates_2.extend(i + word[1] for i in conf_first)
            conf_last = [i for i in self._confusion_char_set(word[1]) if i]
            candidates_2.extend(word[0] + i for i in conf_last)
            candidates_2.extend(i + j for i in conf_first for j in conf_last if i + j)
        if len(word) > 2:
            candidates_3.extend(word[0] + i + word[2:] for i in self._confusion_char_set(word[1]))
        pool = set(candidates_1 + candidates_2 + candidates_3)
        pool = [w for w in pool if is_cjk_string(w)]
        # deterministic: sort lexicographically first, then stable by freq desc
        pool.sort()
        pool.sort(key=lambda k: self.word_frequency(k), reverse=True)
        return pool[: len(pool) // fragment + 1]

    def get_lm_correct_item(self, cur_item, candidates, before_sent, after_sent, threshold=None):
        """Keep cur_item if its ppl is within `threshold` of the best
        candidate; else take the best (corrector.py:223-257)."""
        if threshold is None:
            threshold = self.PPL_THRESHOLD
        if cur_item not in candidates:
            candidates = candidates + [cur_item]
        ppls = self.lm.ppl_batch([before_sent + c + after_sent for c in candidates])
        return pick_lm_item(cur_item, candidates, ppls, threshold)

    def correct(self, sentence: str, include_symbol: bool = True, num_fragment: int = 1, threshold: float = None):
        """Full correction; NOTE: no uniform() here (reference asymmetry,
        corrector.py:285 vs detector.py:490)."""
        frags = split_sentences_by_symbol(sentence, include_symbol=include_symbol)
        found = [self._detect_fragments([f])[0] for f in frags]
        return self._correct_fragments(sentence, frags, found, num_fragment, threshold)

    def detect_and_correct_batch(self, texts):
        """``[(detect(t), correct(t)) for t in texts]``, a whole batch at once.

        correct() detects the fragments of each text and detect() those of
        ``uniform(text)``. _detect_with_proper is pure in (fragment, start)
        and the LM windows are position-wise, so every fragment scores as
        it would alone: the correct side's distinct pairs of the batch are
        detected in one _detect_fragments call, and the detect side's
        pairs not already found (the fragments uniform() changed:
        full-width forms, uppercase Latin, a length-changing lower()) in
        one more. The re-rank then runs in rounds (_correct_rounds).
        """
        splits = [split_sentences_by_symbol(t) for t in texts]
        pairs = list(dict.fromkeys(f for frags in splits for f in frags))
        found = dict(zip(pairs, self._detect_fragments(pairs)))
        results = self._correct_rounds(texts, splits, found)
        usplits = [split_sentences_by_symbol(uniform(t)) if t.strip() else [] for t in texts]
        todo = [f for f in dict.fromkeys(f for frags in usplits for f in frags) if f not in found]
        found.update(zip(todo, self._detect_fragments(todo)))
        return [
            ([err for f in frags for err in found[f][0]], res)
            for frags, res in zip(usplits, results)
        ]

    def _correct_rounds(self, texts, splits, found):
        """_correct_fragments(text, split, ...) of every document, with the
        LM re-rank run in rounds: round k takes the k-th error of every
        fragment that has one, and the candidate sentences of all of them
        go into one flat ppl_batch. Each fragment's k-th error is picked
        and spliced against that fragment's current text, with its
        original offsets, exactly as _correct_fragments does; errors of
        different fragments are independent.
        """
        docs = [[_Fragment(sent, idx, *found[(sent, idx)]) for sent, idx in frags]
                for frags in splits]
        live = [f for doc in docs for f in doc if f.errors]
        k = 0
        while live:
            probes = []
            for f in live:
                cur_item, begin_idx, end_idx, err_type = f.errors[k]
                before_sent = f.sent[: (begin_idx - f.idx)]
                after_sent = f.sent[(end_idx - f.idx):]
                if err_type == ErrorType.confusion:
                    corrected_item = self.custom_confusion[cur_item]
                elif err_type == ErrorType.proper:
                    corrected_item = f.proper.get((cur_item, begin_idx), cur_item)
                else:
                    candidates = self.generate_items(cur_item)
                    if candidates:
                        if cur_item not in candidates:
                            candidates = candidates + [cur_item]
                        probes.append((f, cur_item, begin_idx, before_sent, after_sent, candidates))
                    continue
                f.splice(cur_item, corrected_item, begin_idx, before_sent, after_sent)
            if probes:
                ppls = self.lm.ppl_batch([
                    before_sent + c + after_sent
                    for _, _, _, before_sent, after_sent, candidates in probes
                    for c in candidates
                ])
                o = 0
                for f, cur_item, begin_idx, before_sent, after_sent, candidates in probes:
                    n = len(candidates)
                    corrected_item = pick_lm_item(
                        cur_item, candidates, ppls[o:o + n], self.PPL_THRESHOLD
                    )
                    o += n
                    f.splice(cur_item, corrected_item, begin_idx, before_sent, after_sent)
            k += 1
            live = [f for f in live if len(f.errors) > k]
        return [
            {
                "source": text,
                "target": "".join(f.sent for f in doc),
                "errors": sorted((d for f in doc for d in f.details), key=lambda d: d[2]),
            }
            for text, doc in zip(texts, docs)
        ]

    def _correct_fragments(self, sentence: str, frags, found, num_fragment: int, threshold: float):
        """Candidate generation + LM re-rank + splice over the (fragment,
        start) split of ``sentence``; ``found`` holds each fragment's
        _detect_with_proper result (corrector.py:285-318)."""
        if threshold is None:
            threshold = self.PPL_THRESHOLD
        corrected_sentence = ""
        details = []
        for (sent, idx), (maybe_errors, proper_details) in zip(frags, found):
            for cur_item, begin_idx, end_idx, err_type in maybe_errors:
                before_sent = sent[: (begin_idx - idx)]
                after_sent = sent[(end_idx - idx):]
                if err_type == ErrorType.confusion:
                    corrected_item = self.custom_confusion[cur_item]
                elif err_type == ErrorType.proper:
                    # forced correction from the proper-noun index
                    # (corrector.py:297-299)
                    corrected_item = proper_details.get((cur_item, begin_idx), cur_item)
                else:
                    candidates = self.generate_items(cur_item, fragment=num_fragment)
                    if not candidates:
                        continue
                    corrected_item = self.get_lm_correct_item(
                        cur_item, candidates, before_sent, after_sent, threshold=threshold
                    )
                if corrected_item != cur_item:
                    sent = before_sent + corrected_item + after_sent
                    details.append((cur_item, corrected_item, begin_idx))
            corrected_sentence += sent
        details = sorted(details, key=lambda d: d[2])
        return {"source": sentence, "target": corrected_sentence, "errors": details}


class ConfusionCorrector:
    """Forced confusion replace (confusion_corrector.py:58-71): every match
    spliced in place, later matches win on overlap."""

    def __init__(self, confusion_dict: dict):
        self.confusion = dict(confusion_dict)
        self.scanner = MultiPatternScanner(self.confusion.keys())

    def correct(self, sentence: str):
        corrected = list(sentence)
        details = []
        for end_index, err in self.scanner.iter_matches(sentence):
            truth = self.confusion[err]
            start_index = end_index - len(err) + 1
            corrected[start_index: end_index + 1] = list(truth)
            details.append((err, truth, start_index))
        return {"source": sentence, "target": "".join(corrected), "errors": details}


class EnSpellCorrector:
    """Norvig spell corrector (en_spell_corrector.py:59-175)."""

    LETTERS = "abcdefghijklmnopqrstuvwxyz"

    # correct_word is a pure function of the word; web corpora repeat
    # vocabulary massively, and an OOV word costs an edits2 scan
    # (~40k candidates), so memoize per worker. Bounded so a pathological
    # unique-token stream can't grow executor memory without limit.
    _CACHE_MAX = 200_000

    def __init__(self, word_freq: dict, confusion_dict: dict = None, index=None):
        self.word_freq = dict(word_freq)
        self.sum_freq = sum(self.word_freq.values())
        self.confusion = dict(confusion_dict or {})
        self._cache = {}
        # optional SymSpell deletes index (symspell.DeletesIndex): same
        # candidate sets as the Norvig edits scan (differential-tested),
        # ~300x faster per OOV word; built once on the driver + broadcast
        self.index = index

    def edits1(self, word):
        splits = [(word[:i], word[i:]) for i in range(len(word) + 1)]
        deletes = [L + R[1:] for L, R in splits if R]
        transposes = [L + R[1] + R[0] + R[2:] for L, R in splits if len(R) > 1]
        replaces = [L + c + R[1:] for L, R in splits if R for c in self.LETTERS]
        inserts = [L + c + R for L, R in splits for c in self.LETTERS]
        return set(deletes + transposes + replaces + inserts)

    def edits2(self, word):
        return (e2 for e1 in self.edits1(word) for e2 in self.edits1(e1))

    def known(self, words):
        return set(w for w in words if w in self.word_freq)

    def probability(self, word):
        return self.word_freq.get(word, 0) / self.sum_freq

    _LETTER_SET = frozenset(LETTERS)

    def _norvig_reachable(self, word, cand):
        """True iff the Norvig edits could produce ``cand`` from ``word``:
        inserts/replaces only ever add chars from LETTERS, so every char
        of the candidate must be a lowercase letter or already present in
        the query. Without this filter the deletes index suggests dict
        words containing apostrophes/uppercase that the reference's
        known(edits1/edits2) path can never reach — outputs would differ
        depending on whether the index is attached."""
        q = set(word)
        return all(c in self._LETTER_SET or c in q for c in cand)

    def candidates(self, word):
        if self.index is not None:
            if word in self.word_freq:
                return {word}
            by_dist = {
                w: d for w, d in self.index.candidates(word).items()
                if self._norvig_reachable(word, w)
            }
            d1 = {w for w, d in by_dist.items() if d == 1}
            if d1:
                return d1
            d2 = {w for w, d in by_dist.items() if d == 2}
            return d2 or {word}
        return (
            self.known([word])
            or self.known(self.edits1(word))
            or self.known(self.edits2(word))
            or {word}
        )

    def correct_word(self, word):
        hit = self._cache.get(word)
        if hit is not None:
            return hit
        # deterministic tie-break: lexicographic, then max probability
        cands = sorted(self.candidates(word))
        best = cands[0]
        best_p = self.probability(best)
        for c in cands[1:]:
            p = self.probability(c)
            if p > best_p:
                best, best_p = c, p
        if len(self._cache) < self._CACHE_MAX:
            self._cache[word] = best
        return best

    _ALPHA_RUN_RE = re.compile(r"[A-Za-z]+")

    def correct(self, sentence: str, include_symbol: bool = True):
        # Fast path: if no maximal alpha run would be changed, the output
        # is the input — skip the split/splice entirely. Exact: every
        # correctable fragment of the slow loop is a pure-alpha run and
        # therefore one of these findall matches (mixed alnum fragments
        # can only over-trigger the fallback, never skip a correction).
        # With the memoized correct_word this is a few dict hits per
        # unique word, and clean documents dominate web corpora.
        # ONLY valid for include_symbol=True: with include_symbol=False
        # the slow path strips symbol fragments even from clean text, so
        # returning the input verbatim would change the output shape.
        if include_symbol:
            need = False
            for w in dict.fromkeys(self._ALPHA_RUN_RE.findall(sentence)):
                if len(w) > 1 and (w in self.confusion or self.correct_word(w) != w):
                    need = True
                    break
            if not need:
                return {"source": sentence, "target": sentence, "errors": []}
        text_new = ""
        details = []
        for w, idx in split_sentences_by_symbol(sentence, include_symbol=include_symbol):
            # ascii+alpha == all chars in [A-Za-z], at C speed
            if len(w) > 1 and w.isascii() and w.isalpha():
                if w in self.confusion:
                    corrected = self.confusion[w]
                else:
                    corrected = self.correct_word(w)
                if corrected != w:
                    details.append((w, corrected, idx))
                    w = corrected
            text_new += w
        details = sorted(details, key=lambda d: d[2])
        return {"source": sentence, "target": text_new, "errors": details}

    # lookarounds that hold a match to a whole content fragment of
    # split_sentences_by_symbol: no fragment char on either side
    _NOT_AFTER_FRAGMENT = f"(?<!{HAN_RUN_PATTERN[:-1]})"
    _NOT_BEFORE_FRAGMENT = f"(?!{HAN_RUN_PATTERN[:-1]})"

    def correct_batch(self, texts):
        """``[self.correct(t) for t in texts]`` from one pass over the batch.

        Each distinct ``[A-Za-z]+`` run of the batch is resolved once
        (``confusion`` first, then ``correct_word``). Every run lies inside
        one whitespace token, so the runs are taken from the batch's
        distinct tokens. Only the changed words are then searched for, by
        one trie-shaped pattern, and a match counts only where it is a
        whole content fragment. Those are exactly the fragments that
        ``correct``'s slow path rewrites: an ASCII-alpha fragment is a
        maximal ``[A-Za-z]`` run with no fragment char on either side.
        Errors come in position order with the document's own offsets.
        """
        tokens = set(" ".join(texts).split())
        fixes = {}
        for w in set(self._ALPHA_RUN_RE.findall(" ".join(tokens))):
            if len(w) > 1:
                c = self.confusion[w] if w in self.confusion else self.correct_word(w)
                if c != w:
                    fixes[w] = c
        out = [{"source": t, "target": t, "errors": []} for t in texts]
        if not fixes:
            return out
        pat = re.compile(
            self._NOT_AFTER_FRAGMENT + _trie_pattern(fixes) + self._NOT_BEFORE_FRAGMENT
        )

        def fix(m):
            errors.append((m[0], fixes[m[0]], m.start()))
            return fixes[m[0]]

        for res in out:
            errors = []  # the current doc's, appended to by fix
            target = pat.sub(fix, res["source"])
            if errors:
                res["target"], res["errors"] = target, errors
        return out


def _trie_pattern(words):
    """A regex matching exactly ``words``, nested as a prefix trie, so the
    engine tries one branch per next char rather than every word in turn
    (a flat alternation of k words costs O(k) per text position)."""
    trie = {}
    for w in words:
        node = trie
        for ch in w:
            node = node.setdefault(ch, {})
        node[""] = {}

    def emit(node):
        if not node:
            return ""
        # "" (a word ends here) sorts first, so reverse puts it last
        alts = [re.escape(ch) + emit(sub) for ch, sub in sorted(node.items(), reverse=True)]
        return alts[0] if len(alts) == 1 else "(?:" + "|".join(alts) + ")"

    return emit(trie)


DEFAULT_UNK_TOKENS = (" ", "“", "”", "‘", "’", "琊", "\n", "…", "擤", "\t", "玕", "")


def get_errors(corrected_text: str, origin_text: str, unk_tokens=DEFAULT_UNK_TOKENS):
    """Diff-based error extraction matching the reference contract
    (utils/error_utils.py:10-37): returns
    ``(new_corrected_text, errors)`` where errors are PER-CHAR
    ``(origin_char, corrected_char, origin_pos)`` triples —
    replace pairs chars positionally, delete emits (char, '', pos), insert
    emits ('', char, corrected_pos) — and ``new_corrected_text`` is the
    corrected text with deleted-only segments dropped. Chars in
    ``unk_tokens`` are skipped per char (not per segment).

    Used by the DL-wrapper flow in the reference; here it labels scrub
    edits and arbitrary text rewrites (e.g. t2s, proper-noun splices)."""
    import difflib

    errors = []
    unk = set(unk_tokens)
    pieces = []
    for tag, i1, i2, j1, j2 in difflib.SequenceMatcher(
        None, origin_text, corrected_text
    ).get_opcodes():
        if tag == "equal":
            pieces.append(origin_text[i1:i2])
        elif tag == "replace":
            for i, j in zip(range(i1, i2), range(j1, j2)):
                if origin_text[i] not in unk and corrected_text[j] not in unk:
                    errors.append((origin_text[i], corrected_text[j], i))
                pieces.append(corrected_text[j])
            # a longer corrected side keeps its tail chars (zip stops at
            # the shorter range; the reference appends inside the zip, so
            # replace-with-longer drops the tail there too — match it)
        elif tag == "delete":
            for i in range(i1, i2):
                if origin_text[i] not in unk:
                    errors.append((origin_text[i], "", i))
            # deleted chars are not appended
        elif tag == "insert":
            for j in range(j1, j2):
                if corrected_text[j] not in unk:
                    errors.append(("", corrected_text[j], j))
                pieces.append(corrected_text[j])
    return "".join(pieces), sorted(errors, key=lambda t: t[2])


def get_segment_errors(corrected_text: str, origin_text: str,
                       unk_tokens=DEFAULT_UNK_TOKENS):
    """Segment-level diff variant (round-1 behavior, kept under its own
    name): (origin_segment, corrected_segment, pos) triples, whole
    segments skipped when they touch an unk token. Coarser than the
    reference's per-char get_errors; useful for labeling multi-char scrub
    rewrites as single edits."""
    import difflib

    errors = []
    matcher = difflib.SequenceMatcher(None, origin_text, corrected_text)
    for tag, i1, i2, j1, j2 in matcher.get_opcodes():
        if tag == "equal":
            continue
        a_seg = origin_text[i1:i2]
        b_seg = corrected_text[j1:j2]
        if any(u and (u in a_seg or u in b_seg) for u in unk_tokens):
            continue
        errors.append((a_seg, b_seg, i1))
    return sorted(errors, key=lambda t: t[2])
