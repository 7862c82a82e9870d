"""The NATS JetStream double in a process of its own, and the generator's
side of it.

Run as a script, this starts ``tests.nats_mini_server.MiniNatsServer`` on
an ephemeral localhost port, prints the port and serves until its stdin
closes or it gets SIGTERM. ``Broker`` starts that process, publishes
envelopes over one connection and stops the process again.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

STREAM = "zeebe"
SUBJECT = "zeebe-export"


class Broker:
    """A broker process; ``with Broker() as b:`` stops it on exit."""

    def __init__(self) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__)],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            cwd=_REPO,
        )
        line = self.proc.stdout.readline()
        if not line.strip().isdigit():
            self.close()
            raise RuntimeError(f"broker failed to start: {line!r}")
        self.url = f"nats://127.0.0.1:{int(line)}"

    def nats_options(self) -> dict[str, str]:
        return {"transport": "wire", "servers": self.url, "stream": STREAM}

    def publish(self, envelopes: list[bytes]) -> list[float]:
        """Publish in order over one connection; return each envelope's
        publish stamp (``time.perf_counter``), taken as it is sent."""
        from ph_ee_nats_importer_rdbms_spark.sources.nats_wire import NatsWireClient

        stamps = []
        with NatsWireClient(self.url) as c:
            for env in envelopes:
                stamps.append(time.perf_counter())
                c.publish(SUBJECT, env)
            c.flush()
        return stamps

    def last_seq(self) -> int:
        from ph_ee_nats_importer_rdbms_spark.sources.nats_wire import NatsWireClient

        with NatsWireClient(self.url) as c:
            return c.last_seq(STREAM)

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.terminate()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        for f in (self.proc.stdin, self.proc.stdout):
            f.close()

    def __enter__(self) -> "Broker":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def _serve() -> None:
    sys.path.insert(0, _REPO)
    from tests.nats_mini_server import MiniNatsServer

    signal.signal(signal.SIGTERM, lambda *_: sys.exit(0))
    with MiniNatsServer(stream=STREAM, subject=SUBJECT) as server:
        print(server.port, flush=True)
        sys.stdin.read()  # returns when the parent closes the pipe or dies


if __name__ == "__main__":
    _serve()
