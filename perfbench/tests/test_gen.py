"""The generator: same seed, byte-identical inputs and answers."""

import pickle

import gen


def _snapshot(seed):
    speed = gen.speed_files(seed, 6, 300)
    hours = gen.batch_hours(seed, 3, 500)
    corpus = gen.CurationCorpus(seed, 60, 40, 3)
    return pickle.dumps(
        (
            [data for data, _ in speed],
            [gen.speed_expected(rows) for _, rows in speed],
            hours,
            [gen.batch_expected(rows) for rows in hours],
            [(corpus.docs(d), corpus.expected(d)) for d in range(4)],
        )
    )


def test_same_seed_same_bytes():
    assert _snapshot(7) == _snapshot(7)
    assert _snapshot(7) != _snapshot(8)


def test_speed_files_stay_inside_their_windows_and_the_watermark():
    files = gen.speed_files(3, 5, 400)
    base = int(gen.EPOCH0.timestamp())
    for k, (_, rows) in enumerate(files):
        times = [r[0] for r in rows]
        assert min(times) >= base + k * gen.FILE_SPAN_S
        assert max(times) < base + (k + 1) * gen.FILE_SPAN_S
        # out of order by no more than the jitter, well inside 15 s
        running_max = times[0]
        for t in times:
            assert running_max - t <= gen.MAX_DISORDER_S
            running_max = max(running_max, t)


def test_speed_expected_sums_every_row_once_per_metric():
    _, rows = gen.speed_files(2, 1, 500)[0]
    sums = gen.speed_expected(rows)
    for _, tag in gen.SPEED_METRICS:
        assert sum(v for k, v in sums.items() if k[0] == tag) == sum(r[3] for r in rows)


def test_batch_quota_report_is_usage_over_quota():
    (rows,) = gen.batch_hours(5, 1, 40000)
    hourly, over = gen.batch_expected(rows)
    quota = {u[2]: u[3] for u in gen.users()}
    emails = {k[2]: v for k, v in hourly.items() if k[0] == "email_bytes_total"}
    assert {o[0] for o in over} == {e for e, v in emails.items() if v > quota[e]}
    assert 0 < len(over) < len(emails)  # the report is neither empty nor everyone


def test_curation_days_have_monotonic_ids_and_fixed_rates():
    corpus = gen.CurationCorpus(11, 100, 50, 4)
    last = 0
    for day in range(corpus.n_days + 1):
        ids = [d for d, _ in corpus.docs(day)]
        assert ids == sorted(ids) and ids[0] > last
        last = ids[-1]
        reasons = [r for r, _ in corpus.expected(day).values()]
        assert reasons.count("quality") == len(ids) * gen.QUALITY_PER_MILLE // 1000
        if day:
            assert reasons.count("exact_dup") == len(ids) * gen.EXACT_PER_MILLE // 1000
            assert reasons.count("near_dup") == len(ids) * gen.NEAR_PER_MILLE // 1000
