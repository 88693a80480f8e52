"""The generator is a pure function of its spec and seed."""

import filecmp

import numpy as np
import pytest

import gen

LOG = gen.LogSpec(n_files=3, events_per_file=500, key_universe=5_000, zipf_s=1.1, out_of_order_share=0.1)
CORPUS = gen.CorpusSpec(n_docs=300, exact_dup_share=0.05, light_dup_share=0.1, heavy_dup_share=0.1)


def _same_files(a, b) -> bool:
    names = sorted(p.name for p in a.iterdir())
    if names != sorted(p.name for p in b.iterdir()):
        return False
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


@pytest.mark.parametrize("write", ["log", "corpus"])
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, write):
    def out(seed, name):
        d = tmp_path / name
        if write == "log":
            gen.write_log(LOG, seed, 2, d)
        else:
            gen.write_corpus(CORPUS, seed, 1, d)
        return d

    assert _same_files(out(7, "a"), out(7, "b"))
    assert not _same_files(out(7, "c"), out(8, "d"))


def test_log_continues_with_unique_ids_and_newer_clock(tmp_path):
    head = gen.write_log(LOG, 3, 2, tmp_path)
    tail = gen.LogSpec(1, 200, LOG.key_universe, LOG.zipf_s, LOG.out_of_order_share)
    gen.write_log(tail, 3, 2, tmp_path, first_file=LOG.n_files, first_event=head["rows"])
    log = gen.read_log(tmp_path)
    assert len(log) == head["rows"] + 200
    assert log.event_id.is_unique
    assert sorted(p.name for p in tmp_path.iterdir())[-1] == f"part-{LOG.n_files:05d}.parquet"


def test_log_shape_follows_its_spec(tmp_path):
    info = gen.write_log(LOG, 5, 2, tmp_path)
    log = gen.read_log(tmp_path)
    # The clock runs forward except for the planted late events.
    running_max = np.maximum.accumulate(log.ts_us.to_numpy())
    late = (log.ts_us.to_numpy() < running_max).mean()
    assert 0.05 < late <= LOG.out_of_order_share + 0.02
    assert info["late_rows"] == pytest.approx(LOG.out_of_order_share * info["rows"], rel=0.3)
    # Zipf skew: the hottest key is far above the mean key frequency.
    counts = log.user_id.value_counts()
    assert counts.iloc[0] > 20 * counts.mean()
    assert info["distinct_keys"] == log.user_id.nunique() < LOG.key_universe


def test_lookup_keys_share_the_logs_hot_keys():
    keys = gen.lookup_keys(4, 2_000, 5_000, 1.1)
    assert np.array_equal(keys, gen.lookup_keys(4, 2_000, 5_000, 1.1))
    assert keys.min() >= 0 and keys.max() < 5_000
    hottest = gen.key_ids(4, 5_000)[0]
    assert (keys == hottest).sum() > 50


def test_corpus_plants_duplicates_at_its_shares(tmp_path):
    info = gen.write_corpus(CORPUS, 9, 1, tmp_path, first_doc=1_000)
    texts = gen.read_texts(tmp_path)
    assert min(texts) == 1_000 and len(texts) == info["rows"] == CORPUS.n_docs
    exact = CORPUS.n_docs - info["distinct_texts"]
    assert 0 < exact < 3 * CORPUS.exact_dup_share * CORPUS.n_docs
    replicas = sum(" rep" in t for t in texts.values())
    share = CORPUS.light_dup_share + CORPUS.heavy_dup_share
    assert replicas == pytest.approx(share * CORPUS.n_docs, rel=0.35)
    assert all(set(t.split(" ")) <= set(gen.VOCAB) for t in texts.values() if " rep" not in t)
