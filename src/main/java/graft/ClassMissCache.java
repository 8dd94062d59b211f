package graft;

import java.util.Set;
import java.util.concurrent.ConcurrentHashMap;

/**
 * A class loader over a parent that remembers the names the parent could
 * not load, so a repeated miss costs a set lookup instead of the parent's
 * search of every classpath jar. Janino probes many names that do not
 * exist while it resolves a generated class's imports, and Spark compiles
 * hundreds of generated classes per JVM.
 *
 * Sound only over a parent whose classes are fixed for the JVM's life:
 * the system class loader, whose classpath is set at JVM start. It defines
 * no class itself, so a child loader (Janino's, Spark's executor loader)
 * still defines and loads a class whose name is a recorded miss. Written
 * in Java because registering as parallel capable must happen in the
 * class's static initializer; a loader that is not parallel capable has
 * every lookup locked on it by the JVM.
 */
public final class ClassMissCache extends ClassLoader {
  static {
    ClassLoader.registerAsParallelCapable();
  }

  /** Distinct misses remembered at most; later ones reach the parent each time. */
  static final int CAP = 4096;

  private static final ClassMissCache SYSTEM =
      new ClassMissCache(ClassLoader.getSystemClassLoader(), CAP);

  private final ClassLoader parent;
  private final int cap;
  private final Set<String> misses = ConcurrentHashMap.newKeySet();

  ClassMissCache(ClassLoader parent, int cap) {
    super(parent);
    this.parent = parent;
    this.cap = cap;
  }

  @Override
  protected Class<?> loadClass(String name, boolean resolve) throws ClassNotFoundException {
    if (misses.contains(name)) throw new ClassNotFoundException(name);
    try {
      return parent.loadClass(name);
    } catch (ClassNotFoundException e) {
      // racing threads may overshoot the cap by fewer than their number
      if (misses.size() < cap) misses.add(name);
      throw e;
    }
  }

  int misses() {
    return misses.size();
  }

  /**
   * Makes the one cache over the system class loader the calling thread's
   * context class loader, if that is the system loader. Any other context
   * loader (spark-submit's, a REPL's, a notebook's) can gain classes after
   * a miss, so it is left alone.
   */
  static void install() {
    Thread t = Thread.currentThread();
    if (t.getContextClassLoader() == ClassLoader.getSystemClassLoader()) {
      t.setContextClassLoader(SYSTEM);
    }
  }
}
