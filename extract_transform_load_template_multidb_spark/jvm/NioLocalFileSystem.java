package extract_transform_load_template_multidb_spark.jvm;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;
import org.apache.hadoop.util.Shell;

/**
 * Hadoop's checksummed local file system ({@code fs.file.impl}) over a raw
 * one that sets permission bits through {@code java.nio}.
 *
 * <p>Without the native libhadoop, {@link RawLocalFileSystem#setPermission}
 * forks a {@code chmod} process for every file and directory that a write
 * creates, an empty {@code _SUCCESS} marker included. {@link Raw} makes the
 * same {@code chmod(2)} call in-process. {@link Fs} is the same for
 * {@code FileContext} ({@code fs.AbstractFileSystem.file.impl}), which
 * streaming checkpoints write through.
 *
 * <p>Build: {@code javac --release 17 -cp hadoop-client-api.jar -d classes
 * NioLocalFileSystem.java}, then {@code jar cf nio-local-fs.jar -C classes .}
 */
public class NioLocalFileSystem extends LocalFileSystem {

  public NioLocalFileSystem() {
    super(new Raw());
  }

  /** {@link RawLocalFileSystem} with an in-process {@code setPermission}. */
  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      // java.nio cannot set the sticky bit, nor POSIX bits on Windows.
      if (Shell.WINDOWS || permission.getStickyBit()) {
        super.setPermission(p, permission);
        return;
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), posix(permission.toShort()));
    }
  }

  /**
   * The rwx bits of {@code mode}: OWNER_READ is 0400, OTHERS_EXECUTE 0001.
   * Read from the bits, since the {@code FsCreateModes} that {@code
   * FileContext} passes overrides {@code toString()}.
   */
  static Set<PosixFilePermission> posix(short mode) {
    Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
    for (PosixFilePermission perm : PosixFilePermission.values()) {
      if ((mode & (0400 >> perm.ordinal())) != 0) {
        perms.add(perm);
      }
    }
    return perms;
  }

  /** Hadoop's {@code LocalFs} over {@link Raw}. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(uri, conf));
    }
  }

  /** Hadoop's {@code RawLocalFs} over {@link Raw}. */
  static class RawFs extends DelegateToFileSystem {
    RawFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(uri, new Raw(), conf, "file", false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1;
    }

    @Override
    public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    @Deprecated
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      return true;
    }
  }
}
