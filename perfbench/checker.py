"""The output checks of a run, in a process of their own.

run.py starts this module with the workload's name and input directory,
waits until it has built every expected result, then sends it each pass's
outputs (pickled, on its stdin) and reads back the failure messages (on
its stdout). The checks' memory and DuckDB threads so stay out of the
harness process, whose resident set counts towards `peak_rss_mb`; and
between passes this process is idle, so no pass's CPU includes a check.
"""

from __future__ import annotations

import os
import pickle
import subprocess
import sys
import traceback


class Checker:
    """The harness's end: one checking process for the whole run."""

    def __init__(self, workload: str, inputs: str):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), workload, inputs],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
        )
        try:
            self._receive()  # the expectations are built
        except BaseException:
            self.close()
            raise

    def check(self, out: dict) -> list[str]:
        pickle.dump(out, self.proc.stdin)
        self.proc.stdin.flush()
        return self._receive()

    def _receive(self):
        ok, payload = pickle.load(self.proc.stdout)
        if not ok:
            raise RuntimeError(f"the check raised:\n{payload}")
        return payload

    def close(self) -> None:
        """End the checking process (it exits on EOF), wait for it and
        close the pipes."""
        try:
            self.proc.stdin.close()
        except BrokenPipeError:  # it has ended, with a request unread
            pass
        try:
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait(timeout=30)
        self.proc.stdout.close()


def serve(workload: str, inputs: str) -> int:
    import oracle

    reply = sys.stdout.buffer
    sys.stdout = sys.stderr  # nothing else may write to the reply stream
    try:
        check = oracle.checks(workload, inputs)
        pickle.dump((True, "ready"), reply)
    except Exception:
        pickle.dump((False, traceback.format_exc()), reply)
        return 1
    finally:
        reply.flush()
    while True:
        try:
            out = pickle.load(sys.stdin.buffer)
        except EOFError:
            return 0
        try:
            result = (True, check(out))
        except Exception:
            result = (False, traceback.format_exc())
        pickle.dump(result, reply)
        reply.flush()


if __name__ == "__main__":
    sys.exit(serve(sys.argv[1], sys.argv[2]))
