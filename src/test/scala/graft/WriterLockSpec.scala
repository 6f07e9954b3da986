package graft.pipeline

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

/** A local filesystem masquerading as an object store: the scheme is NOT
  * on [[WriterLock.AtomicSchemes]], so acquire must refuse it unless the
  * deployment opts in with graft.index.lock.assumeAtomic. */
class FakeObjectStoreFileSystem
    extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "fakeobj"
  override def getUri: java.net.URI = java.net.URI.create("fakeobj://host/")
}

/** Lease-based writer lock (r15 verdict #3): a crashed owner's stale lock
  * is taken over after the lease expires (no manual cleanup), a LIVE
  * owner's heartbeat keeps waiters out for arbitrarily long bodies, and
  * mutual exclusion holds under fuzzed concurrent acquisition — including
  * multiple claimants racing the same stale lock. */
class WriterLockSpec extends graft.SparkTestBase {

  private def withLease[A](ms: Long)(body: => A): A = {
    val key = "graft.index.lock.leaseMs"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, ms.toString)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def tempIndexPath(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/idx"

  private def forgeStaleLock(path: String, ageMs: Long): Unit = {
    val lock = Paths.get(s"$path.lock")
    Files.write(lock, "dead-owner@nowhere 0 0".getBytes("UTF-8"))
    Files.setLastModifiedTime(lock,
      FileTime.fromMillis(System.currentTimeMillis() - ageMs))
    ()
  }

  test("a dead owner's stale lock is taken over after the lease — no manual cleanup") {
    withLease(500L) {
      val path = tempIndexPath("graft_lock_stale")
      forgeStaleLock(path, ageMs = 10000L)
      val t0 = System.currentTimeMillis()
      var ran = false
      WriterLock.withLock(spark, path, waitMs = 15000L) { ran = true }
      assert(ran)
      val waited = System.currentTimeMillis() - t0
      assert(waited < 5000L, s"takeover should be prompt, waited ${waited}ms")
      assert(!Files.exists(Paths.get(s"$path.lock")), "lock released after the body")
    }
  }

  test("a LIVE owner's heartbeat keeps waiters out for longer than the lease") {
    withLease(1000L) {
      val path = tempIndexPath("graft_lock_live")
      val holderDone = new AtomicReference[Throwable](null)
      val holding = new java.util.concurrent.CountDownLatch(1)
      val holder = new Thread(() => {
        try WriterLock.withLock(spark, path, waitMs = 5000L) {
          holding.countDown()
          Thread.sleep(2600) // body runs 2.6x the lease — heartbeat must cover it
        } catch { case t: Throwable => holderDone.set(t) }
      })
      holder.start()
      assert(holding.await(5, java.util.concurrent.TimeUnit.SECONDS))
      // a waiter bounded BELOW the holder's runtime must fail cleanly —
      // never steal the live lease
      val e = intercept[IllegalStateException] {
        WriterLock.withLock(spark, path, waitMs = 1500L) { fail("usurped a live lease") }
      }
      assert(e.getMessage.contains("not acquired"))
      holder.join(10000)
      assert(holderDone.get() == null, s"holder failed: ${holderDone.get()}")
      // after release the lock flows normally
      var ran = false
      WriterLock.withLock(spark, path, waitMs = 5000L) { ran = true }
      assert(ran)
    }
  }

  test("mutual exclusion holds under fuzzed concurrent acquisition with a small lease") {
    withLease(600L) {
      val path = tempIndexPath("graft_lock_fuzz")
      val active = new AtomicInteger(0)
      val maxActive = new AtomicInteger(0)
      val completions = new AtomicInteger(0)
      val failure = new AtomicReference[Throwable](null)
      val rnd = new scala.util.Random(1601L)
      val sleeps = (1 to 8).map(_ => 80L + rnd.nextInt(820))
      val threads = sleeps.map { ms =>
        new Thread(() => {
          try WriterLock.withLock(spark, path, waitMs = 60000L) {
            val a = active.incrementAndGet()
            maxActive.updateAndGet(m => math.max(m, a))
            Thread.sleep(ms) // several bodies exceed lease/3, one the lease itself
            active.decrementAndGet()
            completions.incrementAndGet()
            ()
          } catch { case t: Throwable => failure.compareAndSet(null, t); () }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join(120000))
      assert(failure.get() == null, s"a writer failed: ${failure.get()}")
      assert(maxActive.get() == 1, s"exclusion breached: ${maxActive.get()} writers in the section")
      assert(completions.get() == sleeps.size)
      assert(!Files.exists(Paths.get(s"$path.lock")))
    }
  }

  test("a scheme outside the atomic allowlist is refused at acquire; assumeAtomic opts in") {
    // r16 verdict #4: on a store without atomic create-if-absent + rename
    // the lock cannot exclude — acquire must fail fast with the
    // external-coordination message, not silently proceed
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.fakeobj.impl", classOf[FakeObjectStoreFileSystem].getName)
    val dir = Files.createTempDirectory("graft_lock_gate")
    val path = s"fakeobj://host$dir/idx"
    val e = intercept[UnsupportedOperationException] {
      WriterLock.withLock(spark, path, waitMs = 1000L) { fail("gate bypassed") }
    }
    assert(e.getMessage.contains("coordinate writers externally"))
    assert(e.getMessage.contains("assumeAtomic"))
    // the documented override lets a deployment that KNOWS its store is
    // atomic proceed
    spark.conf.set("graft.index.lock.assumeAtomic", "true")
    try {
      var ran = false
      WriterLock.withLock(spark, path, waitMs = 5000L) { ran = true }
      assert(ran)
    } finally spark.conf.unset("graft.index.lock.assumeAtomic")
  }

  test("two claimants racing ONE stale lock: exactly one enters at a time, both run") {
    withLease(400L) {
      val path = tempIndexPath("graft_lock_claimrace")
      forgeStaleLock(path, ageMs = 60000L)
      val active = new AtomicInteger(0)
      val maxActive = new AtomicInteger(0)
      val completions = new AtomicInteger(0)
      val failure = new AtomicReference[Throwable](null)
      val threads = (1 to 2).map { _ =>
        new Thread(() => {
          try WriterLock.withLock(spark, path, waitMs = 30000L) {
            val a = active.incrementAndGet()
            maxActive.updateAndGet(m => math.max(m, a))
            Thread.sleep(150)
            active.decrementAndGet()
            completions.incrementAndGet()
            ()
          } catch { case t: Throwable => failure.compareAndSet(null, t); () }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join(60000))
      assert(failure.get() == null, s"claimant failed: ${failure.get()}")
      assert(maxActive.get() == 1, "both claimants entered the section together")
      assert(completions.get() == 2)
      assert(!Files.exists(Paths.get(s"$path.lock")))
    }
  }

  test("a missing parent directory fails fast instead of waiting out waitMs") {
    val path = Files.createTempDirectory("graft_lock_noparent").toString + "/missing/idx"
    val t0 = System.currentTimeMillis()
    var ran = false
    val e = intercept[java.io.FileNotFoundException] {
      WriterLock.withLock(spark, path, waitMs = 30000L) { ran = true }
    }
    val waited = System.currentTimeMillis() - t0
    assert(!ran)
    assert(waited < 5000L, s"should fail at once, waited ${waited}ms")
    assert(e.getMessage.contains("does not exist"), e.getMessage)
    assert(!e.getMessage.contains("concurrent writer"), e.getMessage)
  }
}
