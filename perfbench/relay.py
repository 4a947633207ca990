"""Loopback fake SMTP relay for the pipeline workloads.

It speaks enough of RFC 5321 for `graft.io.SmtpNotifier` (plaintext, no
AUTH): 220 greeting, EHLO/HELO, MAIL FROM, RCPT TO, DATA ... '.', QUIT.
Every message that reaches the end of DATA is accepted with 250 and
counted; nothing is stored or forwarded.
"""
import socketserver
import threading


class _Handler(socketserver.StreamRequestHandler):
    def _reply(self, line):
        self.wfile.write(line.encode("ascii") + b"\r\n")
        self.wfile.flush()

    def handle(self):
        relay = self.server.relay
        self._reply("220 perfbench.local ESMTP")
        in_data = False
        size = 0
        for raw in self.rfile:
            line = raw.rstrip(b"\r\n")
            if in_data:
                if line == b".":
                    in_data = False
                    relay._accepted(size)
                    self._reply("250 OK queued")
                else:
                    size += len(raw)
                continue
            cmd = line[:4].upper()
            if cmd in (b"EHLO", b"HELO"):
                self.wfile.write(b"250-perfbench.local\r\n250 8BITMIME\r\n")
                self.wfile.flush()
            elif cmd == b"DATA":
                in_data, size = True, 0
                self._reply("354 end with <CRLF>.<CRLF>")
            elif cmd == b"QUIT":
                self._reply("221 bye")
                return
            elif cmd in (b"MAIL", b"RCPT", b"RSET", b"NOOP"):
                self._reply("250 OK")
            else:
                self._reply("502 command not implemented")


class _Server(socketserver.ThreadingTCPServer):
    daemon_threads = True
    allow_reuse_address = True


class FakeSmtpRelay:
    """Start with `start()`, read `port` and `accepted`, end with `stop()`."""

    def __init__(self):
        self._server = _Server(("127.0.0.1", 0), _Handler)
        self._server.relay = self
        self._lock = threading.Lock()
        self._thread = None
        self.accepted = 0
        self.bytes = 0

    @property
    def port(self):
        return self._server.server_address[1]

    def _accepted(self, size):
        with self._lock:
            self.accepted += 1
            self.bytes += size

    def start(self):
        self._thread = threading.Thread(target=self._server.serve_forever,
                                        kwargs={"poll_interval": 0.05},
                                        daemon=True)
        self._thread.start()
        return self

    def stop(self):
        self._server.shutdown()
        self._server.server_close()
        self._thread.join()
