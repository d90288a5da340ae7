import os

from perfbench import proctree


def test_cpu_delta_counts_new_threads_in_full():
    before = {(1, "1"): 10.0, (1, "2"): 5.0, (1, "reaped"): 0.0}
    after = {(1, "1"): 12.0, (1, "3"): 4.0, (1, "reaped"): 3.0}
    # thread 2 ended between the reads: its last slice is lost
    assert proctree.cpu_delta(before, after) == 2.0 + 4.0 + 3.0


def test_thread_cpu_reads_this_process():
    me = os.getpid()
    a = proctree.thread_cpu(proctree.tree(me))
    sum(i * i for i in range(300_000))  # burn some CPU
    b = proctree.thread_cpu(proctree.tree(me))
    assert (me, "reaped") in a
    assert proctree.cpu_delta(a, b) >= 0.0
    assert proctree.tree(me)[0] == me
