"""Count Python↔JVM round trips: the cost of building a plan.

Every py4j call from the Python process into the JVM (a method call, a
field read, an object release) is one ``send_command`` on the
connection. Building a DataFrame plan runs no Spark job, so its cost
is these calls plus the Python around them. The count is
deterministic for a given plan, unlike the wall time on a shared
host::

    with roundtrips.counting() as rt:
        df = some_operator(docs)
    print(rt.n)

Only calls from the thread that entered the block count. py4j sends
the release of a Python-side proxy that went away from a finalizer
thread, at a point of its own, and such a release is not a call the
code under the block made. Garbage collection stays off inside the
block too, so a cycle collection does not run Python finalizers there.
"""

from __future__ import annotations

import contextlib
import gc
import threading

from py4j.clientserver import ClientServerConnection


class Count:
    """Round trips seen so far inside a :func:`counting` block."""

    def __init__(self) -> None:
        self.n = 0


@contextlib.contextmanager
def counting():
    count = Count()
    send = ClientServerConnection.send_command
    owner = threading.get_ident()

    def counted(self, command):
        if threading.get_ident() == owner:
            count.n += 1
        return send(self, command)

    enabled = gc.isenabled()
    gc.collect()
    gc.disable()
    ClientServerConnection.send_command = counted
    try:
        yield count
    finally:
        ClientServerConnection.send_command = send
        if enabled:
            gc.enable()
