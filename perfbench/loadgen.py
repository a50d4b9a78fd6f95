"""Load generation, a component separate from the engine process.

An open loop sends request i when it is due (t0 + offsets[i]) whatever the
engine is doing, and times it from that due time, so a stall delays every
request queued behind it and shows in their latency and in how late they
were sent. A closed loop sends a client's next request only after its
previous one completes. Connections: one keep-alive connection per worker.
"""
import http.client
import json
import threading
import time


class Client:
    """One keep-alive HTTP/1.1 connection to a JSON endpoint."""

    def __init__(self, port, timeout=120.0):
        self.port = port
        self.timeout = timeout
        self.conn = None

    def post(self, path, payload):
        """POST a JSON object; returns (status, decoded body, body bytes)."""
        body = json.dumps(payload).encode()
        for attempt in (0, 1):
            if self.conn is None:
                self.conn = http.client.HTTPConnection("localhost", self.port, timeout=self.timeout)
            try:
                self.conn.request("POST", path, body, {"Content-Type": "application/json"})
                resp = self.conn.getresponse()
                raw = resp.read()
                return resp.status, json.loads(raw), len(raw)
            except (http.client.HTTPException, ConnectionError):
                # a dropped keep-alive connection: reconnect once
                self.conn.close()
                self.conn = None
                if attempt:
                    raise
        raise AssertionError("unreachable")

    def close(self):
        if self.conn is not None:
            self.conn.close()
            self.conn = None


def open_loop(send, items, offsets, workers, t0=None):
    """Send items[i] at t0 + offsets[i] from `workers` threads.

    send(worker_index, item) returns a result dict. Each record gets
    `due`, `sent`, `done` (time.time() seconds), `late_s` = sent - due and
    `latency_s` = done - due; a send that raises is recorded with `error`.
    """
    if t0 is None:
        t0 = time.time() + 0.05
    records = [None] * len(items)
    lock = threading.Lock()
    nxt = [0]

    def worker(w):
        while True:
            with lock:
                i = nxt[0]
                nxt[0] += 1
            if i >= len(items):
                return
            due = t0 + offsets[i]
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            sent = time.time()
            try:
                rec = dict(send(w, items[i]))
            except Exception as e:  # a failed request is a sample beyond any limit
                rec = {"error": f"{type(e).__name__}: {e}"}
            done = time.time()
            rec.update(i=i, due=due, sent=sent, done=done,
                       late_s=sent - due, latency_s=done - due)
            records[i] = rec

    threads = [threading.Thread(target=worker, args=(w,)) for w in range(workers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return records


def closed_loop(send, items, clients):
    """`clients` threads take items in order, each sending its next one
    only after the previous completes. Returns (records, wall seconds)."""
    records = [None] * len(items)
    lock = threading.Lock()
    nxt = [0]

    def client(w):
        while True:
            with lock:
                i = nxt[0]
                nxt[0] += 1
            if i >= len(items):
                return
            sent = time.time()
            try:
                rec = dict(send(w, items[i]))
            except Exception as e:
                rec = {"error": f"{type(e).__name__}: {e}"}
            done = time.time()
            rec.update(i=i, sent=sent, done=done, latency_s=done - sent)
            records[i] = rec

    t0 = time.time()
    threads = [threading.Thread(target=client, args=(w,)) for w in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return records, time.time() - t0


def uniform_offsets(rate, seconds):
    """Due offsets of a fixed-rate schedule over `seconds`."""
    return [i / rate for i in range(int(rate * seconds))]
