package graft

/** Calls of a test's transform, counted across tasks (executors share the
  * JVM in local mode). Reset it at the start of the test that reads it.
  */
object TransformCalls {
  val n = new java.util.concurrent.atomic.AtomicInteger
}
