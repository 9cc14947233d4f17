"""Process bookkeeping through ``/proc``.

Every process a benchmark run starts carries the run's token in its
environment (``PERFBENCH_RUN_TOKEN``): the worker interpreter, the JVM
that pyspark launches, and ``pyspark.daemon`` with its forked Python
workers, which put themselves in a process group of their own.  The
token finds all of them, whatever group or parent they end up in.
"""

from __future__ import annotations

import os
import signal
import time

TOKEN_VAR = 'PERFBENCH_RUN_TOKEN'


def _read(path, mode='r'):
    try:
        with open(path, mode) as f:
            return f.read()
    except OSError:  # the process ended, or is not ours to read
        return None


def tagged_pids(token):
    """Live pids whose environment holds ``TOKEN_VAR=token``."""
    needle = ('%s=%s' % (TOKEN_VAR, token)).encode()
    me = os.getpid()
    pids = []
    for name in os.listdir('/proc'):
        if not name.isdigit() or int(name) == me:
            continue
        env = _read('/proc/%s/environ' % name, 'rb')
        if env and needle in env.split(b'\0'):
            stat = _read('/proc/%s/stat' % name)
            # a zombie holds no resources; its parent reaps it
            if stat and stat.rsplit(')', 1)[-1].split()[0] != 'Z':
                pids.append(int(name))
    return pids


def describe(pid):
    cmd = _read('/proc/%d/cmdline' % pid, 'rb') or b''
    return '%d:%s' % (pid, cmd.replace(b'\0', b' ')[:120].decode(errors='replace'))


def hwm_mb(pids):
    """Sum of the peak resident set sizes (``VmHWM``) of ``pids`` in MB."""
    total_kb = 0
    for pid in pids:
        status = _read('/proc/%d/status' % pid) or ''
        for line in status.splitlines():
            if line.startswith('VmHWM:'):
                total_kb += int(line.split()[1])
    return total_kb / 1024.0


def reset_hwm(pids):
    """Reset each process's ``VmHWM`` to its current RSS (Linux >= 4.0)."""
    for pid in pids:
        try:
            with open('/proc/%d/clear_refs' % pid, 'w') as f:
                f.write('5')
        except OSError:  # the process ended meanwhile
            pass


def kill_tagged(token, grace_s=5.0):
    """SIGTERM, then SIGKILL, every tagged process; wait until none is
    left.  Returns the pids that outlived the first signal's grace
    period, and raises if any survives SIGKILL."""
    pids = tagged_pids(token)
    for pid in pids:
        _signal(pid, signal.SIGTERM)
    deadline = time.monotonic() + grace_s
    while tagged_pids(token) and time.monotonic() < deadline:
        time.sleep(0.1)
    stubborn = tagged_pids(token)
    for pid in stubborn:
        _signal(pid, signal.SIGKILL)
    deadline = time.monotonic() + grace_s
    while tagged_pids(token):
        if time.monotonic() > deadline:
            raise RuntimeError('processes survive SIGKILL: %s' % ', '.join(
                describe(p) for p in tagged_pids(token)))
        time.sleep(0.1)
    return stubborn


def _signal(pid, sig):
    try:
        os.kill(pid, sig)
    except ProcessLookupError:
        pass
