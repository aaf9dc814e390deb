"""The plan-keyed memo registry under concurrent use."""

from __future__ import annotations

import sys
import threading

from data_engineering_spark.operators import memo


def test_value_memo_cap_holds_under_thread_contention(spark):
    """Many threads hitting and inserting into one capped value memo
    must never raise, never exceed the cap, and always get the value
    built for their own plan."""
    kind = "bpe_vocab"
    cap = memo._CAPS[kind]
    plans = [spark.range(n) for n in range(cap * 3)]
    errors: list[BaseException] = []

    def worker(seed: int) -> None:
        try:
            for i in range(40):
                n = (seed * 7 + i) % len(plans)
                got = memo.value(kind, plans[n], ("p",), lambda n=n: ("built", n))
                assert got == ("built", n)
                assert len(memo._REGISTRY[kind]) <= cap
        except BaseException as exc:  # noqa: BLE001 — re-raised in the main thread
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    memo.clear()
    try:
        threads = [threading.Thread(target=worker, args=(s,)) for s in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
        assert not errors, errors[0]
        assert len(memo._REGISTRY[kind]) <= cap
    finally:
        sys.setswitchinterval(old)
        memo.clear()
