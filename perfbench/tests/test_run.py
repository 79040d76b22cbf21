import os
import subprocess

import run


def test_stop_processes_ends_children_and_grandchildren():
    child = subprocess.Popen(["sh", "-c", "sleep 60 & wait"])
    procs = {}
    for _ in range(50):  # until the grandchild has started
        procs = run._descendants(os.getpid())
        if len(procs) >= 2:
            break
        subprocess.run(["sleep", "0.1"])
    assert child.pid in procs and len(procs) >= 2
    run._stop_processes(timeout=0.5)
    assert run._alive(procs) == []
    assert child.poll() is not None


def test_a_reused_pid_is_not_taken_for_the_process():
    procs = {os.getpid(): "not-its-start-time"}
    assert run._alive(procs) == []
    assert run._alive(run._descendants(os.getppid())) != []
